package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Multiplex
import graft.streaming.Streaming

class MultiplexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("multiplex: union of named streams, per-resource branch analyses") {
    import spark.implicits._
    val web = Multiplex.named(Seq("w1", "w2", "w3").toDS(), "web")
    val api = Multiplex.named(Seq("a1").toDS(), "api")
    val mux = Multiplex.union(Seq(web, api))
    assert(mux.count() == 4)
    assert(Multiplex.branch(mux, "web").collect().toSet == Set("w1", "w2", "w3"))
    val results = Multiplex.analyzeAll(mux, Map(
      "web" -> ((ds: org.apache.spark.sql.Dataset[String]) =>
        ds.toDF("v").agg(count(lit(1)).as("n"))),
      "api" -> ((ds: org.apache.spark.sql.Dataset[String]) =>
        ds.toDF("v").agg(count(lit(1)).as("n")))))
      .collect().map(r => r.getAs[String]("resource") -> r.getAs[Long]("n")).toMap
    assert(results == Map("api" -> 1L, "web" -> 3L))
  }

  test("at-risk accounts: flag then later failure alerts; unflagged failures don't") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    SparkTestSession.withRocksDb(spark) {
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Streaming.AccountEvent]
      val q = Streaming.atRiskAccounts(in.toDS())
        .writeStream.format("memory").queryName("atrisk")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
      try {
        in.addData(
          Streaming.AccountEvent("a", 100L, "flag"),
          Streaming.AccountEvent("b", 100L, "fail"))  // not flagged
        q.processAllAvailable()
        in.addData(
          Streaming.AccountEvent("a", 200L, "fail"),  // flagged earlier -> alert
          Streaming.AccountEvent("b", 300L, "fail"))  // still not flagged
        q.processAllAvailable()
        val got = spark.table("atrisk").as[(String, Long)].collect().toSet
        assert(got == Set(("a", 200L)))
      } finally q.stop()
    }
  }

  test("multiAddressSessions: one session spanning many ips/countries alerts") {
    import spark.implicits._
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val logins = Seq(
      // acct1 session: 3 ips, 2 countries within the gap
      ("acct1", t(0), "1.1.1.1", "US"), ("acct1", t(60), "2.2.2.2", "US"),
      ("acct1", t(120), "3.3.3.3", "JP"),
      // acct1 second session (after gap): single ip
      ("acct1", t(10000), "1.1.1.1", "US"),
      // acct2: one ip only
      ("acct2", t(0), "9.9.9.9", "DE"), ("acct2", t(30), "9.9.9.9", "DE")
    ).toDF("acct", "ts", "ip", "cc")
    val got = graft.operators.Sessionize.multiAddressSessions(logins,
      col("ts"), col("acct"), col("ip"), col("cc"),
      gapSeconds = 900, minAddrs = 3, minCountries = 2).collect()
    assert(got.length == 1)
    assert(got(0).getAs[String]("key") == "acct1")
    assert(got(0).getAs[Long]("n_addrs") == 3)
    assert(got(0).getAs[Long]("n_countries") == 2)
  }

  test("alertSummary flags big pane-over-pane swings in either direction") {
    import spark.implicits._
    val t0 = 1700000000L
    val rows =
      (1 to 10).map(i => (new java.sql.Timestamp((t0 + i) * 1000), "x")) ++      // day 1: 10
      (1 to 30).map(i => (new java.sql.Timestamp((t0 + 86400 + i) * 1000), "x")) ++ // day 2: 30 (+200%)
      (1 to 29).map(i => (new java.sql.Timestamp((t0 + 2 * 86400 + i) * 1000), "x")) // day 3: 29 (-3%)
    val got = graft.operators.Heuristics.alertSummary(rows.toDF("ts", "c"),
        col("ts"), col("c"), "1 day", maxPctIncrease = 100.0,
        maxPctDecrease = 50.0)
      .select("classifier", "direction").as[(String, String)].collect()
    assert(got.toSeq == Seq(("x", "increase")))
  }
}
