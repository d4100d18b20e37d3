package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.filter.EventFilter
import graft.model.Event
import graft.operators.{AuthState, Identity, Stateful}
import graft.parse.{GeoIp, Parser}

/** The AuthProfile pipeline (ref EP2, s/authprofile/AuthProfile.java:
  * 1015-1085): parse auth events → resolve identities → geo enrich →
  * three analysis branches — impossible travel (geo-velocity),
  * known-IP state analysis (AuthProfile.StateAnalyze), critical-object
  * matching (CritObjectAnalyze) — with alert suppression.
  *
  * The reference holds per-identity known-IP state in Datastore and
  * walks it with RPC (StateAnalyze); here the per-identity timeline is
  * co-located by the shuffle and scanned with lag windows / the
  * secondary-sort state scan — no external state service, the same
  * detection semantics.
  */
object AuthProfilePipeline {

  case class Config(
      maxKmh: Double = 800.0,
      suppressSeconds: Long = 1800,
      pruneAgeSeconds: Long = 864000L,
      maxKmStatic: Double = 800.0,
      critObjectPatterns: Seq[String] = Nil,
      critNotifyEmail: Option[String] = None,
      critEscalation: Option[AuthState.CritEscalation] = None)

  /** The reference's pre-analysis event ignores (ref AuthProfile.java
    * 204-236, found by replaying its authprof_buffer8 fixture, which
    * must produce ZERO alerts): cloudtrail rows whose source is the
    * literal "AWS Internal", GCP-audit rows carrying a GCP-internal
    * placeholder source (::1 / 0:0:0:0:0:0:0:1 / 0.1.0.1), and
    * GCP-audit rows for system service accounts. */
  def referenceIgnores: Column = {
    val src = col("normalized.sourceAddress")
    val user = col("normalized.subjectUser")
    val ignored =
      (col("payloadType") === "cloudtrail" && src === "AWS Internal") ||
        (col("payloadType") === "gcpaudit" &&
          (src.isin("::1", "0:0:0:0:0:0:0:1", "0.1.0.1") ||
            user.startsWith("system:") ||
            user.endsWith("@gcp-sa-logging.iam.gserviceaccount.com") ||
            user.endsWith("@system.gserviceaccount.com")))
    // null src/user must KEEP the row (three-valued logic would drop it)
    !coalesce(ignored, lit(false))
  }

  /** Parse raw lines, keep AUTH and AUTH_SESSION events (the
    * reference accepts both, AuthProfile.java:143-144; fast-match
    * pushdown first). */
  def parsedAuth(lines: Dataset[String]): DataFrame =
    Parser.parse(lines
        .filter(Parser.fastFilterAny(Parser.payloadTypesFor("AUTH") ++
          Parser.payloadTypesFor("AUTH_SESSION"))))
      .toDF()
      .filter(EventFilter.compile(Seq(
        EventFilter.Rule(wantNormalizedTypes = Seq("AUTH")),
        EventFilter.Rule(wantNormalizedTypes = Seq("AUTH_SESSION")))))
      .filter(referenceIgnores)

  def parsedAuthEnriched(lines: Dataset[String],
      resolver: GeoIp.GeoIpResolver): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    GeoIp.enrich(Parser.parse(lines
        .filter(Parser.fastFilterAny(Parser.payloadTypesFor("AUTH") ++
          Parser.payloadTypesFor("AUTH_SESSION")))), resolver)
      .toDF()
      .filter(EventFilter.compile(Seq(
        EventFilter.Rule(wantNormalizedTypes = Seq("AUTH")),
        EventFilter.Rule(wantNormalizedTypes = Seq("AUTH_SESSION")))))
  }

  /** Full batch analysis: lines + alias table + geo resolver →
    * impossible-travel alerts, session-suppressed per identity.
    *
    * The session gate here is the REPO'S CHOSEN ANALOG, not reference
    * wiring: the reference instantiates `AlertSuppressorSession(1800L)`
    * (AuthProfile.java:1035) but applies it only to the crit-object and
    * cross-account branches (java:1053,1068) — StateAnalyze's travel
    * alerts are not routed through any AlertSuppressor; their
    * repeat-alert damping comes from the persistent known-address
    * state model itself (an address alerts once, then becomes known).
    * This batch surface has no cross-run state store, so the same
    * session suppressor (repeat alerts EXTEND the quiet period rather
    * than re-emitting on a fixed cadence) stands in for that damping;
    * the faithful stateful form lives in [[stateAnalysis]] /
    * `Streaming.authStateAnalyze`. */
  def analyze(lines: Dataset[String], aliases: DataFrame,
      resolver: GeoIp.GeoIpResolver, cfg: Config = Config()): DataFrame = {
    val auth = parsedAuthEnriched(lines, resolver)
      .filter(col("normalized.geo").isNotNull)
    val resolved = Identity.resolve(auth,
      col("normalized.subjectUser"), aliases)
    val travel = Stateful.geoVelocity(resolved,
      col("timestamp"), col("identity"),
      col("normalized.geo.latitude"), col("normalized.geo.longitude"),
      cfg.maxKmh)
    Stateful.suppressSessionGate(travel,
        timestamp_millis(col("ts_ms")), col("key"), cfg.suppressSeconds)
      .select(
        lit("impossible_travel").as("summary"),
        lit("authprofile").as("category"),
        lit("geo_velocity").as("subcategory"),
        lit("critical").as("severity"),
        col("key").as("identity"),
        col("ts_ms"), col("speed_kmh"))
  }

  /** Known-IP state-analysis branch (ref AuthProfile.StateAnalyze):
    * per resolved identity, classify every auth event against the
    * pruned known-address model. Returns the full classified stream
    * (known_ip rows deduped per day window, as the reference's
    * seenKnownAddresses list does). */
  def stateAnalysis(lines: Dataset[String], aliases: DataFrame,
      resolver: GeoIp.GeoIpResolver, cfg: Config = Config(),
      namedSubnets: Seq[(String, String)] = Nil,
      insights: Option[graft.parse.Minfraud.InsightsResolver] = None)
      : DataFrame = {
    // geo may be missing (unresolvable address): such events still
    // classify — stateAnalyze emits the geo-failure action for them,
    // per the reference's UNKNOWN_IP_MINFRAUD_GEO_FAILURE path
    val auth0 = parsedAuthEnriched(lines, resolver)
      .filter(referenceIgnores)
      .filter(col("normalized.sourceAddress").isNotNull)
    // minFraud Insights, when a resolver is supplied: the anonymity /
    // hosting flags pre-empt geo classification for new sources (ref
    // AuthProfile.java:645-690)
    val auth = insights match {
      case None => auth0
      case Some(r) =>
        import org.apache.spark.sql.Encoders
        graft.parse.Minfraud.enrich(
          auth0.as[graft.model.Event](Encoders.product[graft.model.Event]),
          r).toDF()
    }
    val resolved = Identity.resolve(auth,
      col("normalized.subjectUser"), aliases)
    AuthState.stateAnalyze(resolved, col("timestamp"),
      unix_micros(col("timestamp")), col("identity"),
      col("normalized.sourceAddress"),
      col("normalized.geo.latitude"), col("normalized.geo.longitude"),
      cfg.pruneAgeSeconds, cfg.maxKmStatic,
      dedupeWindowSeconds = Some(86400L),
      namedSubnets = namedSubnets,
      isAnonymous = element_at(col("fields"), "minfraud_anonymous") === "true",
      isHostingProvider =
        element_at(col("fields"), "minfraud_hosting") === "true")
  }

  /** Critical-object branch (ref CritObjectAnalyze): immediate
    * critical alerts for auth events touching configured objects,
    * with the optional hour-of-day alternate Slack escalation, then
    * the reference's session suppression on the
    * `user_object_sourceaddress` key (CritObjectAnalyze.java:222-224
    * builds the suppression key; AuthProfile.java:1053 applies
    * `AlertSuppressorSession(1800L)` — a steady drip of the same
    * (user, object, source) alerts emits once and stays quiet until
    * a strictly-larger-than-gap silence). */
  def critObjects(lines: Dataset[String],
      cfg: Config = Config()): DataFrame = {
    val alerts = AuthState.critObjectAnalyze(parsedAuth(lines),
      col("timestamp"),
      col("normalized.subjectUser"), col("normalized.objectValue"),
      col("normalized.sourceAddress"), cfg.critObjectPatterns,
      city = col("normalized.geo.city"),
      country = col("normalized.geo.country"),
      critNotifyEmail = cfg.critNotifyEmail,
      escalation = cfg.critEscalation)
    // duplicate events at the same instant produce IDENTICAL alert
    // rows (every column derives from (user, object, src, ts)); the
    // reference emits the first and drops the same-timestamp repeat
    // (AlertSuppressor.java:131-137) — distinct() is the exact batch
    // analog and is deterministic on identical rows
    Stateful.suppressSessionGate(alerts.distinct(),
      timestamp_millis(col("ts_ms")), col("suppression_key"),
      cfg.suppressSeconds)
  }
}
