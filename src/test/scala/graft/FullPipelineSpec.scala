package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipelines.{AuthProfilePipeline, CustomsPipeline}

/** End-to-end tests of the composed round-2 pipeline surfaces:
  * realistic log lines through parse → enrich → full detector suite. */
class FullPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def authLine(t: Long, path: String, method: String, status: Int,
      email: String, uid: String, addr: String, errno: Int = 0): String = {
    val iso = java.time.Instant.ofEpochSecond(t).toString
    s"""{"insertId":"i","jsonPayload":{"EnvVersion":"2.0","Fields":{""" +
      s""""agent":"Mozilla/5.0","email":"$email","errno":$errno,""" +
      s""""method":"$method","op":"request.summary","path":"$path",""" +
      s""""remoteAddressChain":"[\\"$addr\\"]","service":"sync",""" +
      s""""status":$status,"t":12,"uid":"$uid"},""" +
      s""""Logger":"fxa-auth-server","Pid":1,"Severity":6,"Timestamp":${t}000000000,""" +
      s""""Type":"request.summary"},"timestamp":"$iso"}"""
  }

  private def contentLine(t: Long, addr: String): String =
    s"""{"Timestamp":${t}000000000,"Type":"request","Logger":"fxa-content-server",""" +
      s""""Hostname":"h","Fields":{"clientaddress":"$addr","path":"/signin",""" +
      s""""method":"get","status":200}}"""

  test("customs full suite: enumeration, dist failures, summary, lists") {
    import spark.implicits._
    val t = 1700000000L
    val lines = (
      // 6.6.6.6 enumerates 5 accounts on the status endpoint only
      (0 until 5).map(i => authLine(t + i, "/v1/account/status", "post",
        200, s"t$i@x.com", s"v$i", "6.6.6.6")) ++
      // 7.7.7.7 does the same but also browses the content server ->
      // variance-gated out (needs >= 3 distinct content clients)
      (0 until 5).map(i => authLine(t + i, "/v1/account/status", "post",
        200, s"t$i@x.com", s"v$i", "7.7.7.7")) ++
      Seq(contentLine(t, "7.7.7.7"), contentLine(t, "8.8.8.8"),
        contentLine(t, "9.9.9.9")) ++
      // victim@x.com fails logins from 3 sources
      (0 until 3).map(i => authLine(t + i, "/v1/account/login", "post",
        400, "victim@x.com", "u1", s"1.2.3.$i", errno = 103)) ++
      // monitored account + monitored address activity
      Seq(authLine(t, "/v1/account/login", "post", 200, "mon@x.com",
        "u2", "5.5.5.5"),
        authLine(t, "/v1/account/status", "post", 200, "a@x.com",
          "u3", "4.4.4.4"))
    ).toDS()
    val alerts = CustomsPipeline.analyzeFull(lines,
      CustomsPipeline.FullConfig(
        enumerationThreshold = 5, minVarianceClients = 3,
        srcFailDistThreshold = 3,
        monitoredAddrs = Seq("4.4.4.4"),
        monitoredAccounts = Seq("mon@x.com"))).collect()
    val bySub = alerts.groupBy(_.getAs[String]("subcategory"))
      .view.mapValues(_.map(_.getAs[String]("key")).toSet).toMap
    assert(bySub("account_enumeration") == Set("6.6.6.6")) // 7.7.7.7 gated
    assert(bySub("source_login_failure_distributed") == Set("victim@x.com"))
    assert(bySub("status_comparator") == Set("4.4.4.4"))
    assert(bySub("activity_monitor") == Set("mon@x.com"))
    assert(bySub("summary").contains("login_failure"))
  }

  test("customs enumeration alerts pass the AlertSuppressorCount(600) gate: consecutive windows re-emit only on count change (ref CustomsAccountEnumeration.java:153)") {
    import spark.implicits._
    // the suppression clock is the LATEST qualifying status-check
    // event in each window (the reference's alert stamp,
    // CustomsAccountEnumeration.java:138); here each burst sits at the
    // top of its window, so consecutive latest-event stamps are 600s
    // apart — never strictly past the expiry — and a consecutive
    // window's alert re-emits iff its distinct-email count CHANGED
    val t = 1699999800L // 10-minute-aligned window start
    def burst(w: Int, emails: Int) =
      (0 until emails).map(i => authLine(t + w * 600 + i,
        "/v1/account/status", "post", 200, s"e$i@x.com", s"v$i",
        "6.6.6.6")) ++
      // 3 distinct content clients keep each window variance-qualified
      Seq(contentLine(t + w * 600, "7.7.7.7"),
        contentLine(t + w * 600, "8.8.8.8"),
        contentLine(t + w * 600, "9.9.9.9"))
    val lines = (burst(0, 5) ++ burst(1, 6) ++ burst(2, 6)).toDS()
    val enum6 = CustomsPipeline.analyzeFull(lines,
        CustomsPipeline.FullConfig(enumerationThreshold = 5,
          minVarianceClients = 3)).collect()
      .filter(_.getAs[String]("subcategory") == "account_enumeration")
      .map(r => (r.getAs[Long]("alert_ts_ms"), r.getAs[Long]("count")))
      .toSet
    // w0 (n=5, latest event t+4) emits; w1 (n=6, latest t+605) emits —
    // count changed (the 601s gap is also strictly past expiry); w2
    // (n=6, latest t+1205) suppressed — same count, gap exactly 600s,
    // not strictly past
    assert(enum6 == Set(((t + 4) * 1000L, 5L), ((t + 605) * 1000L, 6L)))
  }

  test("customs enumeration suppression runs on the latest-event clock, " +
      "not the window boundary: same-count consecutive windows re-emit " +
      "iff their latest qualifying events sit strictly more than 600s " +
      "apart (ref CustomsAccountEnumeration.java:138 setTimestamp(" +
      "getLatestTimestamp(events)) + AlertSuppressorCount(600))") {
    import spark.implicits._
    val t = 1699999800L // 10-minute-aligned window start
    def burst(w: Int, offsets: Seq[Long]) =
      offsets.zipWithIndex.map { case (off, i) =>
        authLine(t + w * 600 + off, "/v1/account/status", "post", 200,
          s"e$i@x.com", s"v$i", "6.6.6.6") } ++
      Seq(contentLine(t + w * 600, "7.7.7.7"),
        contentLine(t + w * 600, "8.8.8.8"),
        contentLine(t + w * 600, "9.9.9.9"))
    def run(lines: Seq[String]) =
      CustomsPipeline.analyzeFull(lines.toDS(),
          CustomsPipeline.FullConfig(enumerationThreshold = 5,
            minVarianceClients = 3)).collect()
        .filter(_.getAs[String]("subcategory") == "account_enumeration")
        .map(r => (r.getAs[Long]("alert_ts_ms"),
          r.getAs[Long]("count"))).toSet
    // RE-EMIT case: w0's latest event at t+30, w1's at t+1190 — same
    // 5-email count, but the 1160s gap is strictly past the 600s
    // expiry, so the reference emits BOTH (on a window-start clock the
    // gap would read as exactly 600s and the second alert would be
    // silently lost)
    val reEmit = run(burst(0, Seq(0, 5, 10, 20, 30)) ++
      burst(1, Seq(560, 570, 580, 585, 590)))
    assert(reEmit == Set(((t + 30) * 1000L, 5L),
      ((t + 1190) * 1000L, 5L)))
    // SUPPRESS case: same windows, same count, but w1's events arrive
    // early — latest stamps t+30 and t+630 sit exactly 600s apart, not
    // strictly past expiry, so the second alert is suppressed
    val suppress = run(burst(0, Seq(0, 5, 10, 20, 30)) ++
      burst(1, Seq(5, 10, 15, 20, 30)))
    assert(suppress == Set(((t + 30) * 1000L, 5L)))
  }

  test("customs velocity monitor-only: the lower experimental bar emits its own alerts alongside escalations (ref CustomsVelocity.java:281-320)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val t = 1700000000L
    val lines = Seq(
      // u1: London -> Sydney in 60s (escalated AND monitor-only)
      authLine(t, "/v1/account/login", "post", 200, "a@x.com", "u1", "203.0.113.5"),
      authLine(t + 60, "/v1/account/login", "post", 200, "a@x.com", "u1", "198.51.100.7"),
      // u2: London -> Paris (~340 km) in 1800s = 0.19 km/s — under the
      // 0.25 escalation bar, over the 0.05 monitor-only bar
      authLine(t, "/v1/account/login", "post", 200, "b@x.com", "u2", "203.0.113.9"),
      authLine(t + 1800, "/v1/account/login", "post", 200, "b@x.com", "u2", "192.0.2.4")
    ).toDS()
    val geo = new graft.parse.GeoIp.CidrTableResolver(Seq(
      "203.0.113.0/24" -> graft.model.Geo(latitude = Some(51.5),
        longitude = Some(-0.1)),
      "198.51.100.0/24" -> graft.model.Geo(latitude = Some(-33.9),
        longitude = Some(151.2)),
      "192.0.2.0/24" -> graft.model.Geo(latitude = Some(48.85),
        longitude = Some(2.35))))
    val alerts = CustomsPipeline.analyzeFull(lines,
      CustomsPipeline.FullConfig(
        velocityMaxKmPerSecond = 0.25, velocityMinDistanceKm = 100,
        velocityMonitorOnlyMaxKmPerSecond = Some(0.05),
        velocityMonitorOnlyMinDistanceKm = 100),
      geo = Some(geo)).collect()
    val vel = alerts.filter(_.getAs[String]("subcategory") == "velocity")
      .map(_.getAs[String]("key")).toSet
    val mon = alerts.filter(
        _.getAs[String]("subcategory") == "velocity_monitor_only")
      .map(_.getAs[String]("key")).toSet
    // the impossible jump escalates AND appears in the monitor pass;
    // the moderate jump only clears the monitor-only bar
    assert(vel == Set("u1"))
    assert(mon == Set("u1", "u2"))
  }

  test("customs at-risk chain: comparator flag then later login failure " +
      "alerts (ref CustomsLoginFailureForAtRiskAccount.java:63-150), " +
      "batch equals streaming kernel") {
    import spark.implicits._
    val t = 1700000000L
    val lines = Seq(
      // failure BEFORE the flag: no state entry yet, no alert
      authLine(t - 100, "/v1/account/login", "post", 400, "flagged@x.com",
        "u1", "1.2.3.4", errno = 103),
      // the comparator flag: status check from the monitored address
      authLine(t, "/v1/account/status", "post", 200, "flagged@x.com",
        "u1", "4.4.4.4"),
      // failures AFTER the flag: one at-risk alert each
      authLine(t + 100, "/v1/account/login", "post", 400, "flagged@x.com",
        "u1", "1.2.3.5", errno = 103),
      authLine(t + 200, "/v1/account/login", "post", 400, "flagged@x.com",
        "u1", "1.2.3.6", errno = 103),
      // failure on an account the comparator never flagged: no alert
      authLine(t + 100, "/v1/account/login", "post", 400, "other@x.com",
        "u2", "1.2.3.7", errno = 103)
    ).toDS()
    val alerts = CustomsPipeline.analyzeFull(lines,
      CustomsPipeline.FullConfig(monitoredAddrs = Seq("4.4.4.4"))).collect()
    assert(alerts.filter(_.getAs[String]("subcategory") ==
      "status_comparator").map(_.getAs[String]("key")).toSet == Set("4.4.4.4"))
    val atRisk = alerts.filter(_.getAs[String]("subcategory") ==
      "login_failure_at_risk_account")
    assert(atRisk.map(_.getAs[String]("key")).toSet == Set("flagged@x.com"))
    assert(atRisk.map(_.getAs[Long]("alert_ts_ms")).toSet ==
      Set((t + 100) * 1000L, (t + 200) * 1000L))
    // the streaming at-risk kernel over the equivalent flag/fail event
    // stream emits the same (account, ts) alert set
    import graft.streaming.Streaming
    val ev = Seq(
      Streaming.AccountEvent("flagged@x.com", (t - 100) * 1000000L, "fail"),
      Streaming.AccountEvent("flagged@x.com", t * 1000000L, "flag"),
      Streaming.AccountEvent("flagged@x.com", (t + 100) * 1000000L, "fail"),
      Streaming.AccountEvent("flagged@x.com", (t + 200) * 1000000L, "fail"),
      Streaming.AccountEvent("other@x.com", (t + 100) * 1000000L, "fail")
    ).toDS()
    val streamed = SparkTestSession.withRocksDb(spark)(
      Streaming.atRiskAccounts(ev).collect())
    assert(streamed.map(a => (a.key, a.tsUs / 1000)).toSet ==
      atRisk.map(r => (r.getAs[String]("key"),
        r.getAs[Long]("alert_ts_ms"))).toSet)
  }

  test("authprofile state analysis + crit objects end to end") {
    import spark.implicits._
    val t = 1700000000L
    // ssh auth lines: alice from one address twice, then a new address
    def ssh(tt: Long, user: String, addr: String) =
      s"May  1 10:22:0${tt % 10} host sshd[123]: Accepted publickey for " +
        s"$user from $addr port 5222 ssh2"
    val lines = Seq(
      ssh(0, "alice", "203.0.113.5"),
      ssh(1, "alice", "203.0.113.5"),
      ssh(2, "alice", "198.51.100.7")).toDS()
    val geo = new graft.parse.GeoIp.CidrTableResolver(Seq(
      "203.0.113.0/24" -> graft.model.Geo(latitude = Some(51.5),
        longitude = Some(-0.1)),
      "198.51.100.0/24" -> graft.model.Geo(latitude = Some(51.6),
        longitude = Some(-0.2))))
    val aliases = Seq(("alice", "alice@corp")).toDF("alias", "canonical")
    val out = AuthProfilePipeline.stateAnalysis(lines, aliases, geo)
      .orderBy(col("ts_ms")).collect()
    val actions = out.map(_.getAs[String]("action")).toSeq
    // first sight -> geo failure; repeat known (deduped to one row per
    // window); nearby new address -> within geo
    assert(actions.head == graft.operators.AuthState.UnknownGeoFailure)
    assert(actions.contains(graft.operators.AuthState.KnownIp))
    assert(actions.last == graft.operators.AuthState.UnknownWithinGeo)
  }
}
