package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.CustomsDetectors

/** Fixture tests for the customs detector suite, mirroring the
  * reference's TestCustoms* fixtures: realistic Stackdriver-wrapped
  * fxa-auth-server lines are pushed through the real parser, then the
  * detector operators. */
class CustomsDetectorsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Realistic FxA auth-server request.summary line — Stackdriver
    * LogEntry envelope around a Mozlog record, as in the reference's
    * customs_*.txt fixtures. */
  private def authLine(t: Long, path: String, method: String, status: Int,
      email: String, uid: String, addr: String, errno: Int = 0): String = {
    val iso = java.time.Instant.ofEpochSecond(t).toString
    s"""{"insertId":"i","jsonPayload":{"EnvVersion":"2.0","Fields":{""" +
      s""""agent":"Mozilla/5.0","email":"$email","errno":$errno,""" +
      s""""method":"$method","op":"request.summary","path":"$path",""" +
      s""""remoteAddressChain":"[\\"$addr\\"]","service":"sync",""" +
      s""""status":$status,"t":12,"uid":"$uid"},""" +
      s""""Logger":"fxa-auth-server","Pid":1,"Severity":6,"Timestamp":${t}000000000,""" +
      s""""Type":"request.summary"},"logName":"projects/fxa",""" +
      s""""resource":{"type":"gce_instance"},"timestamp":"$iso"}"""
  }

  private def parseAll(lines: Seq[String]) = {
    import spark.implicits._
    graft.parse.Parser.parse(lines.toDS()).toDF()
  }

  test("realistic fxa-auth-server lines parse with event summaries") {
    val t = 1700000000L
    val df = parseAll(Seq(
      authLine(t, "/v1/account/status", "post", 200, "a@x.com", "u1", "1.1.1.1"),
      authLine(t, "/v1/account/status", "get", 429, "b@x.com", "u2", "1.1.1.2"),
      authLine(t, "/v1/account/login", "post", 200, "c@x.com", "u3", "1.1.1.3"),
      authLine(t, "/v1/account/login", "post", 400, "d@x.com", "u4", "1.1.1.4", errno = 103),
      authLine(t, "/v1/account/login", "post", 400, "e@x.com", "u5", "1.1.1.5", errno = 999),
      authLine(t, "/v1/account/create", "post", 200, "f@x.com", "u6", "1.1.1.6"),
      // request already blocked by the auth server: never classified
      authLine(t, "/v1/account/status", "post", 200, "g@x.com", "u7", "1.1.1.7", errno = 125)))
    val got = df.filter(col("payloadType") === "fxaauth")
      .select(element_at(col("fields"), "uid"),
        element_at(col("fields"), "event_summary"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("u1") == "accountStatusCheckSuccess")
    assert(got("u2") == "accountStatusCheckBlocked")
    assert(got("u3") == "loginSuccess")
    assert(got("u4") == "loginFailure")
    assert(got("u5") == "") // 400 with a non-credential errno
    assert(got("u6") == "accountCreateSuccess")
    assert(got("u7") == "") // errno 125 REQUEST_BLOCKED
  }

  test("fxaauth source address selects the last remoteAddressChain hop") {
    val line =
      """{"Timestamp":1700000000000000000,"Type":"fxa-auth","Hostname":"h",""" +
        """"Fields":{"email":"a@b.c","path":"/v1/account/login","method":"post",""" +
        """"status":200,"remoteAddressChain":"[\"9.9.9.9\",\"127.0.0.1\"]"}}"""
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val e = graft.parse.Parser.parseLine(line, mapper)
    assert(e.payloadType == "fxaauth")
    assert(e.normalized.sourceAddress.contains("127.0.0.1"))
  }

  // addr → deterministic location for the velocity fixtures
  private val geoTable = Seq(
    ("1.1.1.1", 51.5, -0.1), // London
    ("2.2.2.2", -33.9, 151.2), // Sydney
    ("3.3.3.3", 51.6, -0.2)) // near London

  private def velocityAlerts(events: Seq[(Long, String, String, String)]) = {
    import spark.implicits._
    val lines = events.map { case (t, email, uid, addr) =>
      authLine(t, "/v1/account/login", "post", 200, email, uid, addr)
    }
    val geo = geoTable.toDF("addr", "lat", "lon")
    val fxa = parseAll(lines)
      .filter(element_at(col("fields"), "event_summary") === "loginSuccess")
      .select(col("timestamp"),
        element_at(col("fields"), "uid").as("uid"),
        element_at(col("fields"), "email").as("email"),
        col("normalized.sourceAddress").as("addr"),
        monotonically_increasing_id().as("seq"))
      .join(broadcast(geo), Seq("addr"))
    CustomsDetectors.velocity(fxa, col("timestamp"), col("seq"),
      col("uid"), col("email"), col("addr"), col("lat"), col("lon"),
      maxKmPerSecond = 0.2778, minDistanceKm = 100)
  }

  test("customs velocity: impossible travel alerts, same-address quiet") {
    val t = 1700000000L
    // London → Sydney (~17000 km) in 60s: impossible
    val out = velocityAlerts(Seq(
      (t, "r@x.com", "u1", "1.1.1.1"),
      (t + 60, "r@x.com", "u1", "2.2.2.2"))).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("addr") == "2.2.2.2")
    assert(r.getAs[String]("prev_addr") == "1.1.1.1")
    assert(r.getAs[Long]("td_s") == 60L)
    assert(r.getAs[Long]("km_centi") > 100000L)
  }

  test("customs velocity: minimum distance gate suppresses short hops") {
    val t = 1700000000L
    // London → near-London (~14 km) in 1s: fast but below min distance
    val out = velocityAlerts(Seq(
      (t, "r@x.com", "u1", "1.1.1.1"),
      (t + 1, "r@x.com", "u1", "3.3.3.3"))).collect()
    assert(out.isEmpty)
  }

  test("customs velocity: address deduped within window") {
    val t = 1700000000L
    val out = velocityAlerts(Seq(
      (t, "r@x.com", "u1", "1.1.1.1"),
      (t + 10, "r@x.com", "u1", "1.1.1.1"),
      (t + 20, "r@x.com", "u1", "1.1.1.1"))).collect()
    assert(out.isEmpty)
  }

  test("streaming customs velocity matches the batch operator") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streaming
    implicit val sqlCtx = spark.sqlContext
    SparkTestSession.withRocksDb(spark) {
      val t = 1700000000L
      // London -> Sydney fast (alert), repeat addr (quiet), near hop
      // below min distance (quiet), all split across two micro-batches
      val logins = Seq(
        (t, "u1", "1.1.1.1", 51.5, -0.1),
        (t + 60, "u1", "2.2.2.2", -33.9, 151.2),
        (t + 120, "u1", "2.2.2.2", -33.9, 151.2),
        (t + 180, "u1", "3.3.3.3", -33.8, 151.3))
      val batch = CustomsDetectors.velocity(
        logins.toDF("t", "uid", "addr", "lat", "lon")
          .withColumn("ts", timestamp_seconds(col("t")))
          .withColumn("email", concat(col("uid"), lit("@x.com"))),
        col("ts"), col("t"), col("uid"), col("email"), col("addr"),
        col("lat"), col("lon"), maxKmPerSecond = 0.2778,
        minDistanceKm = 100)
        .select("addr", "prev_addr", "td_s", "km_centi")
        .as[(String, String, Long, Long)].collect().toSet

      val in = MemoryStream[Streaming.VelLogin]
      val q = Streaming.customsVelocity(in.toDS(),
          maxKmPerSecond = 0.2778, minDistanceKm = 100)
        .writeStream.format("memory").queryName("velstream")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .start()
      try {
        val rows = logins.map { case (tt, k, a, la, lo) =>
          Streaming.VelLogin(k, tt * 1000000L, a, s"$k@x.com", la, lo) }
        in.addData(rows.take(2): _*)
        q.processAllAvailable()
        in.addData(rows.drop(2): _*)
        q.processAllAvailable()
        val streamed = spark.table("velstream").as[Streaming.VelAlert]
          .collect().map(a => (a.addr, a.prevAddr, a.tdS, a.kmCenti)).toSet
        assert(streamed == batch)
        assert(batch.map(_._1) == Set("2.2.2.2")) // only the Sydney jump
      } finally q.stop()
    }
  }

  test("streaming private-relay forward (fMGWS and TWS) matches the " +
      "batch lag-window operator on the real events replayed in " +
      "time-ordered micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streaming
    implicit val sqlCtx = spark.sqlContext
    // q46's exact derivation on the real table
    val e = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("event_type").isin("signup", "view", "click"))
      .withColumn("etype", when(col("event_type") === "signup",
        CustomsDetectors.FxaRpEvent)
        .otherwise(CustomsDetectors.EmailRelay))
      .withColumn("real_address", concat(lit("h"), col("event_id") % 3))
    val batch = CustomsDetectors.privateRelayForward(e, col("ts"),
        col("event_id"), col("user_id"), col("etype"),
        col("real_address"))
      .collect()
      .map(r => (r.getLong(0).toString, r.getLong(1), r.getString(2),
        r.getString(3))).toSet
    // replay in THREE event-time-ordered micro-batches (the stateful
    // detectors' source contract): state must carry uids across them
    val rows = e.select(col("user_id").cast("string"),
        expr("unix_micros(ts)"), col("event_id"), col("etype"),
        col("real_address"))
      .as[(String, Long, Long, String, String)].collect()
      .map { case (k, us, sq, et, a) =>
        Streaming.RelayEvent(k, us, sq, et, a) }
      .sortBy(r => (r.tsUs, r.seq))
    val thirds = rows.grouped((rows.length + 2) / 3).toSeq
    SparkTestSession.withRocksDb(spark) {
      val in = MemoryStream[Streaming.RelayEvent]
      val q = Streaming.privateRelayForwardStream(in.toDS())
        .writeStream.format("memory").queryName("relaystream")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .start()
      val streamed = try {
        thirds.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        spark.table("relaystream").as[Streaming.RelayAlert].collect()
          .map(a => (a.key, a.tsMs, a.actual, a.expected)).toSet
      } finally q.stop()
      assert(streamed == batch && batch.nonEmpty,
        s"streamed ${streamed.size} vs batch ${batch.size}")
    }
  }

  test("relay TWS state → parquet snapshot → restore → continuation " +
      "≡ uninterrupted run (the suppress/velocity/at-risk round-trip, " +
      "closed for the relay detector)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.Streaming
    implicit val sqlCtx = spark.sqlContext
    SparkTestSession.withRocksDb(spark) {
      val root = java.nio.file.Files
        .createTempDirectory("relay_snapshot_rt").toString
      val relay = CustomsDetectors.EmailRelay
      val rp = CustomsDetectors.FxaRpEvent
      val batch1 = Seq(
        Streaming.RelayEvent("u1", 1000000L, 1L, rp, "h1"),
        Streaming.RelayEvent("u1", 2000000L, 2L, relay, "h1"), // matches: quiet
        Streaming.RelayEvent("u2", 3000000L, 3L, rp, "h5"))
      val batch2 = Seq(
        // alerts ONLY if the restored state remembers u1 -> h1
        Streaming.RelayEvent("u1", 10000000L, 4L, relay, "h9"),
        Streaming.RelayEvent("u2", 11000000L, 5L, relay, "h5")) // quiet
      def alerts(name: String) = spark.table(name)
        .as[Streaming.RelayAlert].collect()
        .map(a => (a.key, a.tsMs, a.actual, a.expected)).toSet
      try {
        // run 1: checkpointed, then stopped
        val in1 = MemoryStream[Streaming.RelayEvent]
        val q1 = Streaming.privateRelayForwardStream(in1.toDS())
          .writeStream.format("memory").queryName("relay_snap1")
          .option("checkpointLocation", s"$root/ckpt1")
          .outputMode(OutputMode.Append()).start()
        try { in1.addData(batch1: _*); q1.processAllAvailable() }
        finally q1.stop()
        assert(alerts("relay_snap1") == Set.empty)

        // state -> parquet -> restored dataset, exact content pinned
        Streaming.snapshotTwsValueState(spark, s"$root/ckpt1", "lastAddr",
          s"$root/snap")
        val restored = Streaming.readStateSnapshot[Streaming.RelayState](
          spark, s"$root/snap")
        assert(restored.collect().toSet == Set(
          ("u1", Streaming.RelayState(2000000L, 2L, "h1")),
          ("u2", Streaming.RelayState(3000000L, 3L, "h5"))))

        // run 2: a FRESH query seeded from the snapshot
        val in2 = MemoryStream[Streaming.RelayEvent]
        val q2 = Streaming.privateRelayForwardStream(in2.toDS(),
            initial = Some(restored))
          .writeStream.format("memory").queryName("relay_snap2")
          .option("checkpointLocation", s"$root/ckpt2")
          .outputMode(OutputMode.Append()).start()
        try { in2.addData(batch2: _*); q2.processAllAvailable() }
        finally q2.stop()
        // u1's alert exists only because the restored state carries h1
        assert(alerts("relay_snap2") == Set(("u1", 10000L, "h9", "h1")))

        // stitched == one uninterrupted run over both batches
        val in3 = MemoryStream[Streaming.RelayEvent]
        val q3 = Streaming.privateRelayForwardStream(in3.toDS())
          .writeStream.format("memory").queryName("relay_snap_unbroken")
          .outputMode(OutputMode.Append()).start()
        try {
          in3.addData(batch1: _*); q3.processAllAvailable()
          in3.addData(batch2: _*); q3.processAllAvailable()
        } finally q3.stop()
        assert(alerts("relay_snap1") ++ alerts("relay_snap2") ==
          alerts("relay_snap_unbroken"))
      } finally
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("account enumeration: threshold + single-path gate + variance") {
    import spark.implicits._
    val t = 1700000000L
    // 6.6.6.6 checks 5 distinct accounts (only the status endpoint);
    // 7.7.7.7 checks 5 but also hits another endpoint (variance of
    // paths) — only 6.6.6.6 should alert
    val lines =
      (0 until 5).map(i => authLine(t + i, "/v1/account/status", "post",
        200, s"t$i@x.com", s"v$i", "6.6.6.6")) ++
      (0 until 5).map(i => authLine(t + i, "/v1/account/status", "post",
        200, s"t$i@x.com", s"v$i", "7.7.7.7")) :+
      authLine(t + 9, "/v1/account/login", "post", 200, "me@x.com", "w1",
        "7.7.7.7")
    val fxa = parseAll(lines).filter(col("payloadType") === "fxaauth")
      .select(col("timestamp"),
        col("normalized.sourceAddress").as("src"),
        element_at(col("fields"), "email").as("email"),
        element_at(col("fields"), "path").as("path"),
        (element_at(col("fields"), "event_summary") isin
          ("accountStatusCheckSuccess", "accountStatusCheckBlocked"))
          .as("is_sc"))
    val noVariance = CustomsDetectors.accountEnumeration(fxa,
      col("timestamp"), col("src"), col("email"), col("path"),
      col("is_sc"), "10 minutes", threshold = 5).collect()
    assert(noVariance.map(_.getAs[String]("src")).toSet == Set("6.6.6.6"))
    assert(noVariance.head.getAs[Long]("n_emails") == 5L)

    // variance view contains 6.6.6.6 (it browsed the content server)
    // with enough distinct clients → suppressed
    val varianceHit = Seq("6.6.6.6", "8.8.8.8", "9.9.9.9")
      .map(a => (new java.sql.Timestamp(t * 1000), a))
      .toDF("ts", "src")
    val gated = CustomsDetectors.accountEnumeration(fxa,
      col("timestamp"), col("src"), col("email"), col("path"),
      col("is_sc"), "10 minutes", threshold = 5,
      content = Some(varianceHit), minVarianceClients = 3).collect()
    assert(gated.isEmpty)

    // same view but below the min-client floor → nobody alerts either
    // (the reference skips notification when the side input is thin)
    val thin = CustomsDetectors.accountEnumeration(fxa,
      col("timestamp"), col("src"), col("email"), col("path"),
      col("is_sc"), "10 minutes", threshold = 5,
      content = Some(varianceHit), minVarianceClients = 99).collect()
    assert(thin.isEmpty)
  }

  test("status comparator + monitored activity broadcast lists") {
    import spark.implicits._
    val t = 1700000000L
    val lines = Seq(
      authLine(t, "/v1/account/status", "post", 200, "a@x.com", "u1", "5.5.5.5"),
      authLine(t, "/v1/account/status", "post", 200, "b@x.com", "u2", "6.6.6.6"),
      authLine(t, "/v1/account/login", "post", 200, "mon@x.com", "u3", "7.7.7.7"),
      authLine(t, "/v1/account/login", "post", 400, "mon@x.com", "u3", "7.7.7.8", errno = 102),
      authLine(t, "/v1/account/login", "post", 200, "other@x.com", "u4", "7.7.7.9"))
    val fxa = parseAll(lines).filter(col("payloadType") === "fxaauth")
      .select(col("timestamp"),
        col("normalized.sourceAddress").as("src"),
        element_at(col("fields"), "email").as("email"),
        element_at(col("fields"), "event_summary").as("summary"))

    val cmp = CustomsDetectors.statusComparator(
      fxa.filter(col("summary") === "accountStatusCheckSuccess"),
      col("timestamp"), col("src"), col("email"),
      Seq("5.5.5.5")).collect()
    assert(cmp.map(_.getAs[String]("email")).toSet == Set("a@x.com"))

    val act = CustomsDetectors.monitoredActivity(
      fxa.filter(col("summary").isin("loginSuccess", "loginFailure")),
      col("timestamp"), col("email"), col("src"), col("summary"),
      Seq("mon@x.com")).collect()
    assert(act.length == 2)
    assert(act.map(_.getAs[String]("action")).toSet ==
      Set("loginSuccess", "loginFailure"))
  }

  test("source login failure dist: distinct sources for one account") {
    import spark.implicits._
    val t = 1700000000L
    val lines =
      // 3 failures from 3 different sources → alert
      (0 until 3).map(i => authLine(t + i, "/v1/account/login", "post",
        400, "victim@x.com", "u1", s"1.2.3.$i", errno = 103)) ++
      // 3 failures from one source → no distribution alert
      (0 until 3).map(i => authLine(t + i, "/v1/account/login", "post",
        400, "other@x.com", "u2", "9.9.9.9", errno = 103))
    val fxa = parseAll(lines).filter(col("payloadType") === "fxaauth")
      .select(col("timestamp"),
        col("normalized.sourceAddress").as("src"),
        element_at(col("fields"), "email").as("email"),
        element_at(col("fields"), "event_summary").as("summary"))
    val out = CustomsDetectors.sourceLoginFailureDist(fxa,
      col("timestamp"), col("email"), col("src"),
      col("summary") === "loginFailure", "10 minutes",
      threshold = 3).collect()
    assert(out.map(_.getAs[String]("email")).toSet == Set("victim@x.com"))
    assert(out.head.getAs[Long]("n_src") == 3L)
  }

  test("private relay forward: hash mismatch against last known state") {
    import spark.implicits._
    val rows = Seq(
      // uid1: rp sets h1; forward h1 matches; forward h2 alerts
      (1L, "uid1", CustomsDetectors.FxaRpEvent, "h1"),
      (2L, "uid1", CustomsDetectors.EmailRelay, "h1"),
      (3L, "uid1", CustomsDetectors.EmailRelay, "h2"),
      // uid2: first-seen forward initializes state silently
      (1L, "uid2", CustomsDetectors.EmailRelay, "h9"),
      (2L, "uid2", CustomsDetectors.EmailRelay, "h9"))
      .toDF("t", "uid", "etype", "hash")
      .withColumn("ts", timestamp_seconds(col("t") + 1700000000L))
    val out = CustomsDetectors.privateRelayForward(rows, col("ts"),
      col("t"), col("uid"), col("etype"), col("hash")).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("uid") == "uid1")
    assert(out.head.getAs[String]("actual") == "h2")
    assert(out.head.getAs[String]("expected") == "h1")
  }

  test("customs alert fan-out: per-indicator rows by subcategory") {
    import spark.implicits._
    val alerts = Seq(
      // dist failure: one row per listed address
      ("source_login_failure_distributed", 1000L, null, "v@x.com",
        Seq.empty[String], Seq("1.1.1.1", "1.1.1.2")),
      // creation abuse: the ip plus each created account
      ("account_creation_abuse", 2000L, "9.9.9.9", null,
        Seq("a@x.com", "b@x.com"), Seq.empty[String]),
      // velocity: ip + account
      ("velocity", 3000L, "8.8.8.8", "c@x.com",
        Seq.empty[String], Seq.empty[String]),
      // comparator: account only
      ("status_comparator", 4000L, "7.7.7.7", "d@x.com",
        Seq.empty[String], Seq.empty[String]))
      .toDF("sub", "ts_ms", "src", "email", "emails", "addrs")
    val out = graft.operators.CustomsDetectors.alertFanout(alerts,
      col("sub"), col("ts_ms"), col("src"), col("email"),
      col("emails"), col("addrs")).collect()
      .map(r => (r.getAs[String]("heuristic"),
        r.getAs[String]("indicator_type"), r.getAs[String]("indicator")))
      .toSet
    assert(out == Set(
      ("source_login_failure_distributed", "sourceaddress", "1.1.1.1"),
      ("source_login_failure_distributed", "sourceaddress", "1.1.1.2"),
      ("account_creation_abuse", "sourceaddress", "9.9.9.9"),
      ("account_creation_abuse", "email", "a@x.com"),
      ("account_creation_abuse", "email", "b@x.com"),
      ("velocity", "sourceaddress", "8.8.8.8"),
      ("velocity", "email", "c@x.com"),
      ("status_comparator", "email", "d@x.com")))
    // stable JSON rendering
    val js = graft.operators.CustomsDetectors.fanoutJson(
      graft.operators.CustomsDetectors.alertFanout(alerts, col("sub"),
        col("ts_ms"), col("src"), col("email"), col("emails"),
        col("addrs"))).as[String].collect()
    assert(js.forall(_.contains("\"suggested_action\":\"suspect\"")))
  }

  test("customs alert fan-out: the reference's exact conversion cardinalities (ref TestCustomsAlert#testAlertConversion)") {
    import spark.implicits._
    // one row per reference test case, same indicator shapes: creation
    // abuse with 3 created accounts -> 4; distributed creation -> 2
    // (primary + source only, similars convert on their own alerts);
    // source login failure -> 1; reset abuse -> 1; distributed login
    // failure across 10 addresses -> 10; velocity -> 2
    val alerts = Seq(
      ("account_creation_abuse", 0L, "216.160.83.56", null,
        Seq("user@mail.com", "user.1@mail.com", "user.1.@mail.com"),
        Seq.empty[String]),
      ("account_creation_abuse_distributed", 1L, "216.160.83.54",
        "user6@mail.com", Seq.empty[String], Seq.empty[String]),
      ("source_login_failure", 2L, "216.160.83.56", "spock@mozilla.com",
        Seq.empty[String], Seq.empty[String]),
      ("password_reset_abuse", 3L, "10.0.0.1", null,
        Seq.empty[String], Seq.empty[String]),
      ("source_login_failure_distributed", 4L, null, "kirk@mozilla.com",
        Seq.empty[String], (1 to 10).map(i => s"10.0.0.$i")),
      ("velocity", 5L, "81.2.69.192", "riker@mozilla.com",
        Seq.empty[String], Seq.empty[String]))
      .toDF("sub", "ts_ms", "src", "email", "emails", "addrs")
    val counts = graft.operators.CustomsDetectors.alertFanout(alerts,
        col("sub"), col("ts_ms"), col("src"), col("email"),
        col("emails"), col("addrs"))
      .groupBy(col("heuristic")).count()
      .as[(String, Long)].collect().toMap
    assert(counts == Map(
      "account_creation_abuse" -> 4L,
      "account_creation_abuse_distributed" -> 2L,
      "source_login_failure" -> 1L,
      "password_reset_abuse" -> 1L,
      "source_login_failure_distributed" -> 10L,
      "velocity" -> 2L))
  }

  test("customs summary: per-class windowed counts") {
    import spark.implicits._
    val t = 1700000000L
    val lines =
      (0 until 3).map(i => authLine(t + i, "/v1/account/login", "post",
        400, s"a$i@x.com", "u1", "1.1.1.1", errno = 103)) ++
      (0 until 2).map(i => authLine(t + i, "/v1/account/create", "post",
        200, s"b$i@x.com", "u2", "2.2.2.2")) :+
      authLine(t, "/v1/account/login", "post", 200, "c@x.com", "u3", "3.3.3.3")
    val fxa = parseAll(lines).filter(col("payloadType") === "fxaauth")
      .select(col("timestamp"),
        element_at(col("fields"), "event_summary").as("summary"))
      .withColumn("class", when(col("summary") === "loginFailure",
          "login_failure")
        .when(col("summary") === "accountCreateSuccess",
          "account_create_success")
        .when(col("summary") === "loginSuccess", "login_success"))
    val out = CustomsDetectors.summary(fxa, col("timestamp"),
      col("class"), "15 minutes").collect()
    val counts = out.map(r =>
      r.getAs[String]("class") -> r.getAs[Long]("n")).toMap
    assert(counts == Map("login_failure" -> 3L,
      "account_create_success" -> 2L, "login_success" -> 1L))
  }

  test("creation-dist blocking: length bands cut hot-domain candidates") {
    import spark.implicits._
    // a hot domain with two well-separated length clusters: 40 short
    // locals (5 chars) and 40 long locals (49 chars) — the unblocked
    // join enumerates all 80x80 pairs; the banded join must never
    // pair short with long (length ratio 5/49 << 0.65 floor)
    val rows =
      (0 until 40).map(i => (0L, f"u$i%04d@hot.com", s"1.1.1.$i",
        "hot.com", f"u$i%04d")) ++
      (0 until 40).map(i => (0L, ("l" * 45) + f"$i%04d" + "@hot.com",
        s"2.2.2.$i", "hot.com", ("l" * 45) + f"$i%04d"))
    val creations = rows.toDF("window_start_ms", "email", "src",
      "domain", "local")
    val got = CustomsDetectors.pairCandidates(creations, 0.35).count()
    // within-cluster pairs only: 2 x 40 x 40 (self-pairs included at
    // this stage; the email inequality filters them later)
    assert(got == 2L * 40 * 40,
      s"banding should keep only within-cluster candidates, got $got " +
        s"of ${80L * 80}")
  }

  test("creation-dist blocking: banded join keeps every ratio-qualifying pair") {
    import spark.implicits._
    // lengths spanning several geometric bands, including pairs at
    // the exact 0.65 length-ratio edge (13 vs 20, 26 vs 40): the
    // banded candidate set, filtered by the exact levenshtein ratio,
    // must equal the unbanded join filtered the same way
    val locals = Seq("a" * 13, "a" * 14, "b" * 20, "b" * 19, "c" * 26,
      "c" * 30, "d" * 40, "e" * 7, "e" * 9, "", "", "x", "xy", "xyz")
    // emails keyed by index (locals repeat, e.g. the two empties) so
    // the email inequality only removes true self-pairs
    val rows = locals.zipWithIndex.map { case (l, i) =>
      (0L, s"e$i@d.com", s"9.9.9.$i", "d.com", l)
    }
    val creations = rows.toDF("window_start_ms", "email", "src",
      "domain", "local")
    def ratioFilter(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("email") =!= col("email_b") &&
          levenshtein(col("local"), col("local_b")) <=
            greatest(length(col("local")), length(col("local_b"))) * 0.35)
        .select(col("email"), col("email_b"))
    val banded = ratioFilter(
      CustomsDetectors.pairCandidates(creations, 0.35))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val a = creations
    val b = creations.toDF("window_start_ms", "email_b", "src_b",
      "domain", "local_b")
    val unbanded = ratioFilter(a.join(b, Seq("window_start_ms", "domain")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(banded == unbanded)
    assert(banded.nonEmpty) // the fixture really exercises the filter
    // the banded join emits each candidate pair exactly once (distinct
    // neighbor bands can't double-match), so counts survive unchanged
    val bandedRows = ratioFilter(
      CustomsDetectors.pairCandidates(creations, 0.35)).count()
    assert(bandedRows == banded.size.toLong)
  }
}
