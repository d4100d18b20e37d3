package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.filter.EventFilter
import graft.operators.{Heuristics, Sessionize}
import graft.parse.Parser

/** The HTTPRequest analysis pipeline (ref EP1, s/httprequest/
  * HTTPRequest.java:182-385): one parsed stream fans out to the rate
  * heuristics sharing a single 1-minute-windowed view, plus the NAT
  * detector whose output suppresses threshold alerts, plus session
  * heuristics — re-expressed as one cached DataFrame with declarative
  * branches (the reference fuses these stages manually; Catalyst does
  * it from the lineage).
  *
  * Scale notes: the parsed frame is cached because 5+ heuristics read
  * it (the reference's InputCollectionCache, §4 "Caching"); each
  * heuristic is one hash-aggregate over the SAME window+key grouping,
  * so at 100 TB the dominant cost is one scan + one shuffle per
  * distinct grouping, and the NAT suppression is a row predicate on
  * the already-aggregated per-client rows.
  */
object HttpRequestPipeline {

  /** joda-style ISO-millis UTC rendering, held in a static module so
    * executor closures reference it without serializing a
    * DateTimeFormatter (which is not Serializable). */
  private object IsoMillis {
    private val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
      .withZone(java.time.ZoneOffset.UTC)
    def format(epochMs: Long): String =
      fmt.format(java.time.Instant.ofEpochMilli(epochMs))
  }

  case class Config(
      window: String = "1 minute",
      hardLimit: Long = 100,
      thresholdModifier: Double = 2.0,
      errorMaxCount: Long = 30,
      natMinDistinctUserAgents: Long = 4,
      sessionGapSeconds: Long = 2700,
      maxSessionEvents: Long = 1000,
      /** Addresses always treated as gateways regardless of observed
        * UA variety (ref DetectNat.withKnownGateways). */
      knownGateways: Seq[String] = Nil)

  /** Reference-exact per-heuristic documentation strings for the
    * config tick (ref s/httprequest/HTTPRequest.java:656-732
    * buildConfigurationTick + each heuristic's getTransformDoc —
    * ThresholdAnalysis.java:73-79, HardLimitAnalysis.java:65-70,
    * ErrorRateAnalysis.java:53-58, UserAgentBlocklistAnalysis.java:
    * 68-71): the tick payload self-documents what the pipeline is
    * configured to alert on. Feed to `Streaming.cfgTickStream`. */
  def configTickPayload(cfg: Config,
      options: Map[String, String] = Map.empty): String = {
    import graft.streaming.CfgTickBuilder.doc
    graft.streaming.CfgTickBuilder.build(Seq(
      doc("ThresholdAnalysis",
        f"Alert if a single source address makes more than " +
          f"${cfg.thresholdModifier}%.2f times the calculated mean request " +
          "rate for all clients within a 1 minute window."),
      doc("HardLimitAnalysis",
        s"Alert if single source address makes more than ${cfg.hardLimit} " +
          "requests in a 1 minute window."),
      doc("ErrorRateAnalysis",
        s"Alert if a single source address generates more than " +
          s"${cfg.errorMaxCount} 4xx errors in a 1 minute window."),
      doc("UserAgentBlocklistAnalysis",
        "Alert if client makes request with user agent that matches entry " +
          "in blocklist.")), options)
  }

  /** Parse raw lines and keep HTTP_REQUEST events (compiled filter).
    * The fast-match pushdown prunes non-candidate lines BEFORE the
    * opaque mapPartitions parse (ref Parser.java:508-516) — at scale
    * the parse dominates, so lines that cannot possibly become
    * HTTP_REQUEST events must never reach Jackson. */
  def parsedHttp(lines: Dataset[String]): DataFrame =
    Parser.parse(lines
        .filter(Parser.fastFilterAny(Parser.payloadTypesFor("HTTP_REQUEST"))))
      .toDF()
      .filter(EventFilter.compile(Seq(EventFilter.Rule(
        wantNormalizedTypes = Seq("HTTP_REQUEST")))))

  /** The one HTTP alert-row projection, shared by the batch and
    * streaming forms: (summary, category, subcategory, severity,
    * sourceaddress, count, window_start_ms). */
  private def alert(df: DataFrame, subcategory: Column, severity: String,
      count: Column): DataFrame =
    df.select(
      concat(subcategory, lit("_exceeded")).as("summary"),
      lit("httprequest").as("category"),
      subcategory.as("subcategory"),
      lit(severity).as("severity"),
      col("key").as("sourceaddress"),
      count.cast("long").as("count"),
      col("window_start_ms"))

  /** The event columns the windowed HTTP heuristics read. */
  private def slim(parsed: DataFrame): DataFrame =
    parsed.select(col("timestamp"),
      col("normalized.sourceAddress").as("src"),
      col("normalized.userAgent").as("ua"),
      col("normalized.requestStatus").as("status"))

  private def perClient(events: DataFrame, cfg: Config): DataFrame =
    Heuristics.perClient(events, col("timestamp"), col("src"), col("ua"),
      col("status"), cfg.window, cfg.natMinDistinctUserAgents)

  /** Hard-limit + error-rate alert rows over per-client rows. */
  private def rateAlerts(perClient: DataFrame, cfg: Config): DataFrame =
    alert(Heuristics.rateGate(cfg.hardLimit, cfg.errorMaxCount,
        notGateway(cfg))(perClient),
      col("subcategory"), "warn", col("count"))

  /** Threshold alert rows over finalized per-client rows. */
  private def thresholdAlerts(perClient: DataFrame, cfg: Config): DataFrame =
    alert(Heuristics.thresholdGate(cfg.thresholdModifier)(perClient)
        .filter(notGateway(cfg)),
      lit("threshold"), "warn", col("n"))

  private def notGateway(cfg: Config): Column =
    Heuristics.notGateway(cfg.natMinDistinctUserAgents, cfg.knownGateways)

  /** Full batch analysis: raw lines → unioned alert frame.
    *
    * `cacheParsed` (default true) caches the parsed frame so the four
    * heuristics + the NAT view share ONE parse. The 100× probe
    * measured the trade's other side: when the cached frame
    * approaches the executor storage pool, eviction + shuffle-spill
    * pressure turns the last decade super-linear (12.8 s @30× →
    * 116 s @100× in an 8→24 GB JVM, with 8 GB failing outright on
    * UNABLE_TO_ACQUIRE_MEMORY). Memory-constrained deployments pass
    * `cacheParsed = false` and trade five linear re-parses for zero
    * storage pressure — recompute beats spill once the frame no
    * longer fits. */
  def analyze(lines: Dataset[String], cfg: Config = Config(),
      cacheParsed: Boolean = true): DataFrame = {
    // Optimization r17 (guide §2.3 "project before the exchange",
    // §2.4 "share one exchange"): the four windowed heuristics + the
    // NAT signal all group by the SAME (window, client) key and
    // consume only four scalar columns — so (a) the cached frame
    // carries exactly those columns instead of full Event rows, and
    // (b) ONE per-client aggregate (Heuristics.perClient: request
    // count, 4xx count and distinct-UA cardinality ride one shuffle)
    // feeds every decision; the threshold mean is an aggregate OVER
    // it. The streaming forms run the same aggregate and gates.
    val slim0 = slim(parsedHttp(lines))
    val events = if (cacheParsed) slim0.cache() else slim0
    val perKey0 = perClient(events, cfg)
    // four consumers (hard + error rate, threshold per-key + per-window
    // mean) — cached so the aggregation runs once; bounded by
    // |windows x active keys|
    val perKey = if (cacheParsed) perKey0.cache() else perKey0

    val sessions = alert(
      Sessionize.sessionLimit(events, col("timestamp"), col("src"),
          cfg.sessionGapSeconds, cfg.maxSessionEvents)
        .withColumn("window_start_ms", lit(null).cast("long")),
      lit("session_limit"), "critical", col("max_session_events"))

    rateAlerts(perKey, cfg).unionByName(thresholdAlerts(perKey, cfg))
      .unionByName(sessions)
  }

  /** Endpoint-abuse alerts in the reference's FULL composition (ref
    * EndpointAbuseAnalysis.java:136-299 → GlobalTriggers →
    * AlertSuppressorCount, java:277): per-client session-window abuse
    * detection, then count-aware suppression keyed by the client
    * address — a repeat alert for the same client re-emits only when
    * the suppression window lapses or the count CHANGES. The
    * suppression timestamp is the latest monitored request
    * (`a.setTimestamp(latestEpaRequest)`, java:233). */
  def endpointAbuseAlerts(lines: Dataset[String],
      endpoints: Seq[graft.operators.HttpHeuristics.Endpoint],
      sessionGapSeconds: Long = 2700, suppressSeconds: Long = 600,
      varianceSupportingOnly: Boolean = false,
      customVarianceSubstrings: Seq[String] = Nil): DataFrame = {
    val abuse = graft.operators.HttpHeuristics.endpointAbuseSessions(
      parsedHttp(lines), col("timestamp"),
      col("normalized.sourceAddress"), col("normalized.requestMethod"),
      col("normalized.urlRequestPath"), col("normalized.userAgent"),
      sessionGapSeconds, endpoints, varianceSupportingOnly,
      customVarianceSubstrings, url = Some(col("normalized.requestUrl")))
    graft.operators.Stateful.suppressCountGate(abuse,
        timestamp_millis(col("latest_ts_ms")), col("addr"), col("n"),
        suppressSeconds)
      .select(lit("endpoint_abuse").as("subcategory"),
        lit("httprequest").as("category"),
        lit("warn").as("severity"),
        col("addr").as("sourceaddress"), col("endpoint_method"),
        col("endpoint_path"), col("n").as("count"), col("useragent"),
        col("latest_ts_ms").as("ts_ms"), col("window_max_ts_ms"))
  }

  /** Per-endpoint error-rate alerts in the reference's full
    * composition (ref PerEndpointErrorRateAnalysis.java:160-250 →
    * AlertSuppressorCount, java:248): error-session detection, then
    * count-aware suppression keyed by client address; the suppression
    * timestamp is the most recent matching error. */
  def perEndpointErrorRateAlerts(lines: Dataset[String],
      rules: Seq[graft.operators.HttpHeuristics.ErrorRule],
      errorSessionGapSeconds: Long = 1800,
      suppressSeconds: Long = 600): DataFrame = {
    val errs = graft.operators.HttpHeuristics.perEndpointErrorRateSessions(
      parsedHttp(lines)
        .filter(col("normalized.requestStatus").between(400, 499)),
      col("timestamp"), col("normalized.sourceAddress"),
      col("normalized.requestMethod"), col("normalized.urlRequestPath"),
      errorSessionGapSeconds, rules)
    graft.operators.Stateful.suppressCountGate(errs,
        timestamp_millis(col("latest_error_ms")), col("addr"),
        col("n_errors"), suppressSeconds)
      .select(lit("per_endpoint_error_rate").as("subcategory"),
        lit("httprequest").as("category"),
        lit("warn").as("severity"),
        col("addr").as("sourceaddress"), col("rule_method"),
        col("rule_path"), col("n_errors").as("count"),
        col("latest_error_ms").as("ts_ms"), col("window_max_ts_ms"))
  }

  /** Session-limit alerts in the reference's full composition (ref
    * SessionLimitAnalysis.java:200-292 → AlertSuppressorCount): one
    * alert per qualifying (client, session) with the session request
    * count, `monitor_only` below the hard threshold, then count-aware
    * suppression keyed by client address. Suppression timestamp is
    * the session's latest request (`a.setTimestamp(latestRequest)`,
    * java:239). */
  def sessionLimitAlerts(lines: Dataset[String],
      sessionGapSeconds: Long = 2700, threshold: Long = 1000,
      monitor: Long = 500, suppressSeconds: Long = 600): DataFrame = {
    val sessions = Sessionize.sessionSummary(parsedHttp(lines),
        col("timestamp"), col("normalized.sourceAddress"),
        sessionGapSeconds)
      .filter(col("n_events") >= monitor)
    graft.operators.Stateful.suppressCountGate(sessions,
        timestamp_millis(col("session_end_ms")), col("key"),
        col("n_events"), suppressSeconds)
      .select(
        when(col("n_events") >= threshold, "session_limit_analysis")
          .otherwise("session_limit_analysis_monitor_only")
          .as("subcategory"),
        lit("httprequest").as("category"),
        lit("critical").as("severity"),
        col("key").as("sourceaddress"), col("session_id"),
        col("n_events").as("count"),
        col("session_end_ms").as("ts_ms"))
  }

  /** Reference-shaped threshold_analysis alerts: full `Alert` rows
    * whose metadata sequence replicates the reference's addMetadata
    * call order exactly (ref s/httprequest/heuristics/
    * ThresholdAnalysis.java:152-196): "category" (the subcategory
    * entry, from setSubcategory), sourceaddress, mean (Java
    * Double.toString of the per-window client mean), count,
    * threshold_modifier, notify_merge ("<resource>
    * threshold_analysis"), window_timestamp (window max event-time,
    * joda-style ISO millis — the value
    * t/.../TestThresholdAnalysis1.java:66 asserts). Rendered through
    * `Sinks.alertJsonGolden` this is byte-compatible with the
    * reference's own alert JSON; GoldenAlertSpec pins it.
    *
    * Deterministic divergences (documented, unasserted by the
    * reference's tests): alertId is a name-UUID of (resource, key,
    * window) instead of random, and the alert timestamp is the
    * window max instead of wall clock. */
  def thresholdAlertsGolden(lines: Dataset[String],
      monitoredResource: String, modifier: Double,
      cfg: Config = Config()): Dataset[graft.model.Alert] = {
    val spark = lines.sparkSession
    import spark.implicits._
    require(cfg.window == "1 minute") // winMax below assumes 60s windows
    Heuristics.thresholdAnalysis(parsedHttp(lines), col("timestamp"),
        col("normalized.sourceAddress"), cfg.window, modifier)
      .select(col("window_start_ms"), col("key"), col("n"), col("mean_n"))
      .as[(Long, String, Long, Double)]
      .map { case (winStart, key, n, mean) =>
        val winMaxMs = winStart + 60000L - 1L
        val winMaxIso = IsoMillis.format(winMaxMs)
        graft.model.Alert(
          alertId = java.util.UUID.nameUUIDFromBytes(
            s"$monitoredResource|threshold_analysis|$key|$winStart"
              .getBytes("UTF-8")).toString,
          timestamp = new java.sql.Timestamp(winMaxMs),
          summary = s"$monitoredResource httprequest threshold_analysis " +
            s"$key $n",
          category = "httprequest",
          subcategory = Some("threshold_analysis"),
          severity = graft.model.AlertSeverity.Info,
          metadata = Seq(
            graft.model.AlertMetaEntry(
              graft.model.AlertMeta.AlertSubcategoryField,
              "threshold_analysis"),
            graft.model.AlertMetaEntry(
              graft.model.AlertMeta.SourceAddress, key),
            graft.model.AlertMetaEntry(
              graft.model.AlertMeta.MeanValue, mean.toString),
            graft.model.AlertMetaEntry(
              graft.model.AlertMeta.Count, n.toString),
            graft.model.AlertMetaEntry(
              graft.model.AlertMeta.ThresholdModifier, modifier.toString),
            graft.model.AlertMetaEntry(
              graft.model.AlertMeta.NotifyMergeKey,
              s"$monitoredResource threshold_analysis"),
            graft.model.AlertMetaEntry(
              graft.model.AlertMeta.WindowTimestamp, winMaxIso)))
      }
  }

  /** The composed production shape as ONE streaming query (ref
    * HTTPRequest.java:818-889 expandInputMap: per-resource input →
    * analyses + cfgtick processor → flatten): raw multiplexed lines →
    * parse → the batch form's per-client aggregate
    * ([[Heuristics.perClient]], per (window, client): request count,
    * 4xx count, distinct-UA cardinality) → [[Heuristics.rateGate]]'s
    * hard-limit and error-rate alerts, unioned with config-tick alerts
    * parsed from the same stream (ref CfgTickProcessor — ticks ride
    * the input).
    *
    * NAT gating follows the reference exactly: HardLimitAnalysis
    * consumes the DetectNat view and skips emission for flagged
    * sources (HardLimitAnalysis.java:88-128) and for configured known
    * gateways; ErrorRateAnalysis takes no NAT view. The NAT signal
    * rides the same aggregate as the counts: the distinct-agent count
    * capped at the NAT threshold ([[Heuristics.cappedDistinct]]), exact
    * below it, so the gate decides as the batch form does, and the
    * per-key state holds at most that many agents however many a proxy
    * fans out. Append mode: a window's alerts emit once the watermark
    * passes its end; later-than-watermark events are dropped, the
    * streaming twin of the reference's `withAllowedLateness(ZERO)`.
    *
    * Session limits ride this SAME query as a third stateful branch
    * (a `session_window` aggregate unioned with the time-window
    * aggregate — Spark 4 runs the two state stores side by side in
    * one append query); one alert per offending session, where the
    * batch form reports one row per key with its max session (the
    * difference only shows when a key offends in two separate
    * sessions of one run). Threshold analysis (global per-window mean
    * side input) is the ONE heuristic that stays a sibling query —
    * [[thresholdAlertStream]] — because the mean join needs a
    * foreachBatch epilogue at window finalization that cannot union
    * into an append-mode branch. Run both over the same multiplexed
    * input for the reference's full per-resource fan-out
    * (HTTPRequest.java:182-385). */
  def analyzeStreamFull(lines: Dataset[String], cfg: Config = Config(),
      watermarkDelay: String = "30 seconds"): DataFrame = {
    val parsed = parsedHttp(lines)
    val rates = rateAlerts(perClient(
      slim(parsed).withWatermark("timestamp", watermarkDelay), cfg), cfg)
    // session-limit branch: its own keyed session_window state over
    // the same parsed stream; a session emits once the watermark
    // passes its gap (final pane), mirroring the batch
    // Sessionize.sessionLimit >= bound
    val sessions = alert(parsed
      .withWatermark("timestamp", watermarkDelay)
      .groupBy(session_window(col("timestamp"),
          s"${cfg.sessionGapSeconds} seconds"),
        col("normalized.sourceAddress").as("key"))
      .agg(count(lit(1)).as("n_events"))
      .filter(col("n_events") >= cfg.maxSessionEvents)
      .withColumn("window_start_ms", lit(null).cast("long")),
      lit("session_limit"), "critical", col("n_events"))
    // second branch over the same source: the cfgtick fast-keyword
    // pushdown prunes non-tick lines before this branch's parse, so
    // the double scan costs one substring probe per line, not two
    // full parses
    val ticks = Parser.parse(
        lines.filter(Parser.fastFilter("cfgtick"))).toDF()
      .filter(col("payloadType") === "cfgtick")
      .select(
        col("raw").as("summary"),
        lit("httprequest-cfgtick").as("category"),
        lit("cfgtick").as("subcategory"),
        lit("info").as("severity"),
        lit(null).cast("string").as("sourceaddress"),
        lit(null).cast("long").as("count"),
        lit(null).cast("long").as("window_start_ms"))
    rates.unionByName(sessions).unionByName(ticks)
  }

  /** The threshold branch of the streaming fan-out, NAT-gated like
    * the batch form (ThresholdAnalysis consumes the DetectNat view):
    * the batch form's per-client aggregate runs as ONE stateful
    * append-mode aggregate, and [[Heuristics.thresholdGate]] plus the
    * NAT predicate run in its
    * [[graft.streaming.Streaming.finalized]] epilogue, where each
    * finalized window arrives whole. `onAlerts` receives alert rows in
    * the [[analyze]] schema. Start this alongside [[analyzeStreamFull]]
    * over the same lines for the full per-resource fan-out. */
  def thresholdAlertStream(lines: Dataset[String], cfg: Config = Config(),
      watermarkDelay: String = "30 seconds")(onAlerts: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    graft.streaming.Streaming.finalized(perClient(
        slim(parsedHttp(lines)).withWatermark("timestamp", watermarkDelay),
        cfg))(b => onAlerts(thresholdAlerts(b, cfg)))
}
