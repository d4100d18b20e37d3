package graft.model

import java.sql.Timestamp

/** Core data model of the engine, re-expressed from the reference's
  * row classes as Spark-encodable case classes.
  *
  * Reference shapes (see SURVEY.md §1):
  *  - Event:      /root/reference/src/main/java/com/mozilla/secops/parser/Event.java:26-48
  *  - Normalized: /root/reference/src/main/java/com/mozilla/secops/parser/Normalized.java:13-57
  *  - Alert:      /root/reference/src/main/java/com/mozilla/secops/alert/Alert.java:21-532
  *  - Violation:  /root/reference/src/main/java/com/mozilla/secops/Violation.java:23-233
  */
object NormalizedType {
  val Auth = "AUTH"
  val AuthSession = "AUTH_SESSION"
  val HttpRequest = "HTTP_REQUEST"
}

/** GeoIP enrichment attached to a source address
  * (ref GeoIP.GeoIPData, s/parser/GeoIP.java:18-150). */
case class Geo(
    city: Option[String] = None,
    country: Option[String] = None,
    timeZone: Option[String] = None,
    latitude: Option[Double] = None,
    longitude: Option[Double] = None,
    isp: Option[String] = None,
    asn: Option[Int] = None,
    asOrg: Option[String] = None)

/** Cross-source normalized view — the column set ~90% of operators read. */
case class Normalized(
    types: Seq[String] = Seq.empty,
    subjectUser: Option[String] = None,
    subjectUserIdentity: Option[String] = None,
    sourceAddress: Option[String] = None,
    geo: Option[Geo] = None,
    requestMethod: Option[String] = None,
    requestUrl: Option[String] = None,
    urlRequestPath: Option[String] = None,
    urlRequestHost: Option[String] = None,
    requestStatus: Option[Int] = None,
    userAgent: Option[String] = None,
    referenceId: Option[String] = None,
    /** Acted-on object for session events (ref Normalized.java `object`
      * — e.g. GCP resource path, "phabricator"). `object` is a Scala
      * keyword, hence the longer name. */
    objectValue: Option[String] = None)

/** A parsed log event. `payloadType` is the tagged-union discriminator
  * (23 variants in the reference, s/parser/Payload.java:10-61); the raw
  * payload fields live in `fields` (string map) plus the normalized view.
  */
case class Event(
    id: String,
    timestamp: Timestamp,
    payloadType: String,
    raw: String,
    normalized: Normalized = Normalized(),
    fields: Map[String, String] = Map.empty,
    stackdriverProject: Option[String] = None,
    stackdriverLabels: Map[String, String] = Map.empty,
    mozlogHostname: Option[String] = None,
    mozlogType: Option[String] = None,
    /** Mozlog `Logger` field (ref Mozlog.java:56) — several payload
      * matchers key on it (amo, private relay, fxa-content, iprepd). */
    mozlogLogger: Option[String] = None)

object AlertSeverity {
  val Info = "info"
  val Warn = "warn"
  val Critical = "critical"
}

/** Structured alert emitted by detectors. Metadata is kept as an ordered
  * sequence of key/value pairs (not a map) so JSON serialization is
  * byte-stable, matching the reference's golden-output discipline. */
case class AlertMetaEntry(key: String, value: String)

case class Alert(
    alertId: String,
    timestamp: Timestamp,
    summary: String,
    category: String,
    subcategory: Option[String] = None,
    severity: String = AlertSeverity.Info,
    payload: Option[String] = None,
    metadata: Seq[AlertMetaEntry] = Seq.empty) {

  def meta(key: String): Option[String] =
    metadata.find(_.key == key).map(_.value)
}

/** The alert metadata keys this engine reads or writes. The full
  * registry is the reference's AlertMeta.Key enum (ref
  * s/alert/AlertMeta.java:31-248); add a key here when code first
  * uses it. */
object AlertMeta {
  val AlertSubcategoryField = "category"
  val Count = "count"
  val Email = "email"
  val EmailSimilar = "email_similar"
  val MeanValue = "mean"
  val NotifyMergeKey = "notify_merge"
  val SourceAddress = "sourceaddress"
  val SourceAddresses = "sourceaddresses"
  val ThresholdModifier = "threshold_modifier"
  val WindowTimestamp = "window_timestamp"

  /** Keys whose value is a ", "-joined LIST (ref AlertMeta.java
    * ValueType.LIST declarations — EMAIL :134, EMAIL_SIMILAR :136,
    * SOURCEADDRESSES :199; all other keys are single-valued). */
  val ListKeys: Set[String] = Set(Email, EmailSimilar, SourceAddresses)

  /** Join values for a list-typed key (ref joinListValues :33-40 —
    * the reference joins with ", " and errors on non-list keys). */
  def joinListValues(key: String, values: Seq[String]): String = {
    require(ListKeys.contains(key), s"key $key for join is not of type list")
    values.mkString(", ")
  }

  /** Split a list-typed value (ref splitListValues :49-56; the
    * splitter is comma-based, whitespace-trimming, empty-dropping). */
  def splitListValues(key: String, value: String): Seq[String] = {
    require(ListKeys.contains(key), s"key $key for split is not of type list")
    value.split(",").iterator.map(_.trim).filter(_.nonEmpty).toSeq
  }
}

/** Alert → reputation violation mapping (ref s/Violation.java:176-233). */
case class Violation(
    ip: Option[String],
    email: Option[String],
    violation: String,
    suppressRecovery: Option[Int] = None)
