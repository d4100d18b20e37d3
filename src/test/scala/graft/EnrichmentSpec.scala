package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Geo
import graft.parse.{GeoIp, Parser}
import graft.sinks.Sinks

class EnrichmentSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("cloudtrail matcher: AUTH normalization from JSON auth records") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // a faithful successful console login: the reference's isAuthEvent
    // gate requires the AwsConsoleSignIn event type and a Success
    // response element (ref Cloudtrail.java:175-186)
    val e = Parser.parseLine(
      """{"eventName":"ConsoleLogin","eventType":"AwsConsoleSignIn","responseElements":{"ConsoleLogin":"Success"},"eventSource":"signin.amazonaws.com","eventTime":"2024-02-02T08:00:00Z","sourceIPAddress":"203.0.113.9","userIdentity":{"userName":"alice"}}""",
      mapper)
    assert(e.payloadType == "cloudtrail")
    assert(e.normalized.types == Seq("AUTH"))
    assert(e.normalized.subjectUser.contains("alice"))
    assert(e.normalized.sourceAddress.contains("203.0.113.9"))
    assert(e.fields("event_name") == "ConsoleLogin")
    assert(e.timestamp.toInstant.toString == "2024-02-02T08:00:00Z")
  }

  test("geoip enrichment: longest-prefix CIDR table, per-partition resolver") {
    import spark.implicits._
    val resolver = new GeoIp.CidrTableResolver(Seq(
      "10.0.0.0/8" -> Geo(country = Some("ZZ")),
      "10.1.0.0/16" -> Geo(country = Some("AA"), city = Some("aa-city"))))
    val events = Parser.parse(Seq(
      "May  1 00:00:00 h sshd[1]: Accepted password for bob from 10.1.2.3 port 1 ssh2",
      "May  1 00:00:00 h sshd[1]: Accepted password for eve from 10.9.9.9 port 1 ssh2",
      "May  1 00:00:00 h sshd[1]: Accepted password for sam from 8.8.8.8 port 1 ssh2"
    ).toDS())
    val enriched = GeoIp.enrich(events, resolver).collect()
      .map(e => e.normalized.subjectUser.get -> e.normalized.geo).toMap
    assert(enriched("bob").flatMap(_.country).contains("AA")) // longest prefix wins
    assert(enriched("eve").flatMap(_.country).contains("ZZ"))
    assert(enriched("sam").isEmpty)
  }

  test("violation derivation maps known subcategories, drops unknown/addressless") {
    import spark.implicits._
    val alerts = Seq(
      ("hard_limit", "1.1.1.1"),
      ("error_rate", "2.2.2.2"),
      ("unknown_cat", "3.3.3.3"),
      ("hard_limit", null)
    ).toDF("subcategory", "addr")
    val v = Sinks.violations(alerts, col("subcategory"), col("addr"))
      .select("ip", "violation").as[(String, String)].collect().toSet
    assert(v == Set(
      ("1.1.1.1", "hard_limit_violation"),
      ("2.2.2.2", "client_error_rate_violation")))
  }

  test("typed violations: ip rows, email-list explode, matched-addon both") {
    import spark.implicits._
    val alerts = Seq(
      ("hard_limit", "1.1.1.1", Seq.empty[String]),
      ("amo_abuse_multi_match", null, Seq("a@x.com", "b@x.com")),
      ("amo_abuse_matched_addon", "9.9.9.9", Seq("c@x.com")),
      ("unknown", "3.3.3.3", Seq("d@x.com")))
      .toDF("subcategory", "addr", "emails")
    val v = Sinks.violationsTyped(alerts, col("subcategory"),
      col("addr"), col("emails"))
      .select("object", "type", "violation", "ip")
      .as[(String, String, String, Option[String])].collect().toSet
    assert(v == Set(
      ("1.1.1.1", "ip", "hard_limit_violation", Some("1.1.1.1")),
      ("a@x.com", "email", "abusive_account_violation", None),
      ("b@x.com", "email", "abusive_account_violation", None),
      ("9.9.9.9", "ip", "endpoint_abuse_violation", Some("9.9.9.9")),
      ("c@x.com", "email", "abusive_account_violation", None)))
  }

  test("alert json rendering is deterministic with stable field order") {
    import spark.implicits._
    val a = graft.model.Alert(
      alertId = "id-1", timestamp = new java.sql.Timestamp(1000L),
      summary = "s", category = "c", subcategory = Some("sc"),
      severity = "warn",
      metadata = Seq(graft.model.AlertMetaEntry("k1", "v1")))
    val json = Sinks.alertJson(Seq(a).toDS()).head()
    assert(json.startsWith("""{"alertId":"id-1","ts_ms":1000,"summary":"s""""))
    assert(json.contains(""""metadata":[{"key":"k1","value":"v1"}]"""))
  }

  test("streamTo: foreachBatch adapter delivers streaming alerts to a writer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    // a driver-side buffer: each micro-batch collected once
    val writer = new Sinks.AlertWriter {
      val buf = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
      def write(alerts: org.apache.spark.sql.DataFrame): Unit =
        buf ++= alerts.collect()
    }
    val q = Sinks.streamTo(in.toDS().toDF("subcategory", "n"), writer).start()
    try {
      in.addData(("hard_limit", 7L))
      q.processAllAvailable()
      in.addData(("error_rate", 3L))
      q.processAllAvailable()
      assert(writer.buf.map(_.getAs[String]("subcategory")).toSet ==
        Set("hard_limit", "error_rate"))
    } finally q.stop()
  }

  test("parquet writer round-trips alert frames") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("alerts").toString
    val w = new Sinks.ParquetWriter(dir)
    w.write(Seq(("a", 1L)).toDF("k", "v"))
    w.write(Seq(("b", 2L)).toDF("k", "v"))
    assert(spark.read.parquet(dir).count() == 2)
  }
}
