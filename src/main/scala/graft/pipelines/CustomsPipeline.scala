package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import graft.functions.Functions
import graft.parse.Parser
import graft.operators.{CustomsDetectors, Heuristics}

/** The Customs pipeline (ref EP3, s/customs/Customs.java:601-702):
  * FxA auth events keyed three ways — source address, email,
  * email domain — through fixed feature windows, then per-keying
  * detectors over the windowed counts:
  *  - source login failure (SourceLoginFailure: failures per source)
  *  - account-creation abuse (CustomsAccountCreation: creations/source)
  *  - password-reset abuse (CustomsPasswordResetAbuse: resets/email)
  *  - distributed account creation (CustomsAccountCreationDist:
  *    similar normalized emails across distinct sources)
  *
  * One parsed+cached frame feeds all keyings (the reference's
  * CustomsPreFilter tag-split becomes three filters over the cache);
  * every detector is a single windowed hash-aggregate + threshold,
  * and the similar-email clustering joins only within an email-domain
  * group (bounded pair blow-up, same trick as the reference's
  * per-address grouping).
  */
object CustomsPipeline {

  case class Config(
      window: String = "10 minutes",
      maxLoginFailuresPerSource: Long = 5,
      maxCreationsPerSource: Long = 3,
      maxResetsPerSource: Long = 3,
      distMinSources: Long = 3,
      distMaxEditDistance: Long = 2)

  /** Parse raw lines, keep FxA auth-session events. Fast-match
    * pushdown ("fxa-auth" substring) prunes before the parse. */
  def parsedFxa(lines: Dataset[String]): DataFrame =
    Parser.parse(lines.filter(Parser.fastFilter("fxaauth"))).toDF()
      .filter(col("payloadType") === "fxaauth")

  /** The one Customs alert-row projection, shared by the batch and
    * streaming forms: (category, subcategory, severity, key_kind, key,
    * count, alert_ts_ms). */
  private def alert(df: DataFrame, subcategory: String, keyKind: String,
      key: Column = col("key"), n: Column = col("n"),
      windowMs: Column = col("window_start_ms")): DataFrame =
    df.select(lit("customs").as("category"),
      lit(subcategory).as("subcategory"),
      lit("warn").as("severity"),
      lit(keyKind).as("key_kind"),
      key.cast("string").as("key"),
      n.cast("long").as("count"),
      windowMs.cast("long").as("alert_ts_ms"))

  def analyze(lines: Dataset[String], cfg: Config = Config()): DataFrame = {
    val fxa = parsedFxa(lines)
      .select(col("timestamp"),
        element_at(col("fields"), "email").as("email"),
        element_at(col("fields"), "action").as("action"),
        element_at(col("fields"), "status").as("status"),
        element_at(col("fields"), "path").as("path"),
        col("normalized.sourceAddress").as("src"))
      .withColumn("norm_email", Functions.normalizeEmailPlus(lower(col("email"))))
      .withColumn("domain", Functions.emailDomain(col("norm_email")))
      .cache()

    // the reference's varianceView: a per-(window, source) path
    // diversity score; NOMINAL sources (organic browsing, index >= 33)
    // are exempt from all three per-source detectors
    // (CustomsAccountCreation.java:92, SourceLoginFailure.java:90,
    // CustomsPasswordResetAbuse.java:92 each return on
    // cf.nominalVariance())
    val nominal = graft.operators.Features.pathVarianceIndexWindowed(
        fxa.filter(col("src").isNotNull), col("timestamp"), cfg.window,
        col("src"), col("path"), col("status").cast("int"))
      .filter(col("nominal"))
      .select(col("window_start_ms"), col("key"))
    def varianceGate(df: DataFrame): DataFrame =
      df.join(broadcast(nominal), Seq("window_start_ms", "key"),
        "left_anti")

    def windowed(pred: Column, key: Column, minN: Long,
        distinctOf: Option[Column] = None): DataFrame =
      Heuristics.windowedAgg(fxa.filter(pred), col("timestamp"), cfg.window,
          Seq(key.as("key")))(
          distinctOf.map(countDistinct(_)).getOrElse(count(lit(1))).as("n"))
        .filter(col("n") >= minN)

    // count = failures carrying an account (ref SourceLoginFailure
    // .java:75-89 skips null-email events before counting)
    val loginFailure = alert(varianceGate(windowed(
      col("action") === "loginFailure" && col("email").isNotNull,
      col("src"), cfg.maxLoginFailuresPerSource)),
      "source_login_failure", "sourceaddress")

    // count = DISTINCT accounts created by the source
    // (ref CustomsAccountCreation.java:77-89 dedups seen accounts)
    val creationAbuse = alert(varianceGate(windowed(
      col("action") === "accountCreate" && col("email").isNotNull,
      col("src"), cfg.maxCreationsPerSource,
      distinctOf = Some(col("email")))),
      "account_creation_abuse", "sourceaddress")

    // keyed by SOURCE, counting DISTINCT reset accounts — the
    // reference's CustomsPasswordResetAbuse runs on the
    // source-address keying (Customs.java:565), not per account
    val resetAbuse = alert(varianceGate(windowed(
      col("action") === "passwordReset" && col("email").isNotNull,
      col("src"), cfg.maxResetsPerSource,
      distinctOf = Some(col("email")))),
      "password_reset_abuse", "sourceaddress")

    // distributed creation: similar emails (edit distance on the local
    // part) created from >= distMinSources distinct sources within a
    // domain. The pair join goes through the shared length-band
    // kernel (CustomsDetectors.pairCandidatesAbsolute) — the plain
    // (domain)-keyed self-join is quadratic on a hot consumer domain
    // at corpus scale; banding on floor(len/(d+1)) bounds candidates
    // while provably keeping every pair within edit distance d
    val creations = fxa.filter(col("action") === "accountCreate")
      .select(col("domain"), col("norm_email").as("email"), col("src"),
        substring_index(col("norm_email"), "@", 1).as("local"))
      .dropDuplicates()
    val dist = graft.operators.CustomsDetectors
      .pairCandidatesAbsolute(creations, cfg.distMaxEditDistance)
      .filter(col("email") < col("email_b") &&
        col("src") =!= col("src_b") &&
        levenshtein(col("local"), col("local_b")) <= cfg.distMaxEditDistance)
      // count sources across BOTH sides of the similar pairs
      .select(col("domain"), explode(array(col("src"), col("src_b"))).as("s"))
      .groupBy(col("domain").as("key"))
      .agg(countDistinct(col("s")).as("n"))
      .filter(col("n") >= cfg.distMinSources)
      .withColumn("window_start_ms", lit(null).cast("long"))
    val distAlert = alert(dist, "account_creation_abuse_distributed", "domain")

    loginFailure.unionByName(creationAbuse).unionByName(resetAbuse)
      .unionByName(distAlert)
  }

  /** Full detector-suite configuration (ref Customs.CustomsOptions). */
  case class FullConfig(
      window: String = "10 minutes",
      enumerationThreshold: Long = 5,
      minVarianceClients: Long = 3,
      srcFailDistThreshold: Long = 3,
      velocityMaxKmPerSecond: Double = 0.25,
      velocityMinDistanceKm: Double = 100,
      /** Experimental lower-bar velocity pass (ref CustomsVelocity
        * maxKilometersPerSecondMonitorOnly): alerts tagged
        * velocity_monitor_only, emitted IN ADDITION to escalated
        * velocity alerts for jumps exceeding both bars. */
      velocityMonitorOnlyMaxKmPerSecond: Option[Double] = None,
      velocityMonitorOnlyMinDistanceKm: Double = 0,
      monitoredAddrs: Seq[String] = Nil,
      monitoredAccounts: Seq[String] = Nil) {

    /** The cap of the streaming gates' distinct counter
      * ([[Heuristics.cappedDistinct]]): 4× the larger gate threshold.
      * Per-(window, key) state is linear in an attacker-controlled
      * quantity (a flood of distinct emails or sources) unless capped;
      * at this cap every `>= threshold` gate decides as the exact batch
      * count does, and the emitted count stays exact up to 4× the
      * threshold before it saturates. */
    def streamDistinctCap: Int =
      (4L * math.max(enumerationThreshold, srcFailDistThreshold))
        .max(1L).min(Int.MaxValue).toInt
  }

  private val StatusChecks =
    Seq("accountStatusCheckSuccess", "accountStatusCheckBlocked")

  /** The parsed fxa-auth events projected to the detector fields. */
  private def fxaFields(parsed: DataFrame, extra: Column*): DataFrame =
    parsed.select(Seq(col("timestamp"),
      element_at(col("fields"), "email").as("email"),
      element_at(col("fields"), "uid").as("uid"),
      element_at(col("fields"), "path").as("path"),
      element_at(col("fields"), "event_summary").as("summary"),
      col("normalized.sourceAddress").as("src")) ++ extra: _*)

  /** Enumeration event rows (see [[CustomsDetectors.enumerationEvents]])
    * over fxa fields plus the content-server events of `parsedAll`. */
  private def enumerationEvents(fxa: DataFrame,
      parsedAll: DataFrame): DataFrame =
    CustomsDetectors.enumerationEvents(fxa, col("timestamp"), col("src"),
      col("email"), col("path"), col("summary").isin(StatusChecks: _*),
      Some(parsedAll.filter(col("payloadType") === "fxacontent")
        .select(col("timestamp").as("ts"),
          col("normalized.sourceAddress").as("src"))))

  private def summaryAlerts(fxa: DataFrame): DataFrame =
    alert(CustomsDetectors.summary(fxa, col("timestamp"),
        when(col("summary") === "loginFailure", "login_failure")
          .when(col("summary") === "accountCreateSuccess",
            "account_create_success")
          .when(col("summary") === "loginSuccess", "login_success"),
        "15 minutes"),
      "summary", "class", col("class"))

  private def srcFailDistAlerts(fxa: DataFrame, cfg: FullConfig,
      distinct: Column => Column): DataFrame =
    alert(CustomsDetectors.sourceLoginFailureDist(fxa, col("timestamp"),
        col("email"), col("src"), col("summary") === "loginFailure",
        cfg.window, cfg.srcFailDistThreshold, distinct),
      "source_login_failure_distributed", "email", col("email"),
      col("n_src"))

  /** Status-comparator hits: also the at-risk account state. */
  private def comparatorHits(fxa: DataFrame, cfg: FullConfig): DataFrame =
    CustomsDetectors.statusComparator(
      fxa.filter(col("summary") === "accountStatusCheckSuccess"),
      col("timestamp"), col("src"), col("email"), cfg.monitoredAddrs)

  private def comparatorAlerts(hits: DataFrame): DataFrame =
    alert(hits, "status_comparator", "sourceaddress", col("src"), lit(1),
      col("ts_ms"))

  private def monitoredAlerts(fxa: DataFrame, cfg: FullConfig): DataFrame =
    alert(CustomsDetectors.monitoredActivity(
        fxa.filter(col("summary").isin("loginSuccess", "loginFailure")),
        col("timestamp"), col("email"), col("src"), col("summary"),
        cfg.monitoredAccounts),
      "activity_monitor", "email", col("email"), lit(1), col("ts_ms"))

  /** The full customs suite over ONE parsed+cached frame — the Spark
    * form of the reference's ~12-transform wiring (ref Customs.java:
    * 601-702). Every detector is a filter/aggregate over the same
    * cache; outputs unify into the common alert schema. Velocity runs
    * only when a geo resolver is supplied (it needs locations);
    * content-server variance gating uses fxa-content events parsed
    * from the same lines.
    */
  def analyzeFull(lines: Dataset[String], cfg: FullConfig = FullConfig(),
      geo: Option[graft.parse.GeoIp.GeoIpResolver] = None): DataFrame = {
    val candidates = lines.filter(
      Parser.fastFilter("fxaauth") || Parser.fastFilter("fxacontent"))
    val parsedAll = (geo match {
      case Some(r) => graft.parse.GeoIp.enrich(Parser.parse(candidates), r)
      case None => Parser.parse(candidates)
    }).toDF().cache()
    val fxa = fxaFields(parsedAll.filter(col("payloadType") === "fxaauth"),
      col("id"), col("normalized.geo.latitude").as("lat"),
      col("normalized.geo.longitude").as("lon"))

    // the reference gates enumeration alerts with
    // AlertSuppressorCount(600L) keyed on the source address
    // (CustomsAccountEnumeration.java:153): a later window's alert
    // for the same source re-emits only after 600s OR when the
    // distinct-email count changes. The alert is stamped with the
    // LATEST qualifying status-check event — not the window start —
    // and the suppressor's expiry runs on that stamp
    // (`alert.setTimestamp(Parser.getLatestTimestamp(events))`,
    // CustomsAccountEnumeration.java:138; same shape as the HTTP
    // sites' latestEpaRequest / latestRequest stamps). On a
    // window-start clock consecutive 10-minute windows could never
    // sit strictly past the 600s bar, silently suppressing same-count
    // alerts the reference re-emits.
    val enumeration = graft.operators.Stateful.suppressCountGate(
      alert(CustomsDetectors.enumerationGate(cfg.enumerationThreshold,
          Some(cfg.minVarianceClients))(CustomsDetectors.enumerationPerSource(
          enumerationEvents(fxa, parsedAll), cfg.window)),
        "account_enumeration", "sourceaddress", col("src"),
        col("n_emails"), col("latest_ts_ms")),
      timestamp_millis(col("alert_ts_ms")), col("key"),
      col("count"), expirySeconds = 600)

    // the comparator's hit set doubles as the at-risk account state
    // that CustomsLoginFailureForAtRiskAccount reads (ref
    // CustomsStatusComparator.java:155-166 writes the Datastore entry
    // the lfara transform looks up) — compute it once, alert on it,
    // and feed it to the login-failure join
    val hits = comparatorHits(fxa, cfg)
    val atRisk = alert(CustomsDetectors.loginFailureAtRiskAccount(
        fxa.filter(col("summary") === "loginFailure"),
        col("timestamp"), col("email"), col("src"), hits),
      "login_failure_at_risk_account", "email", col("email"), lit(1),
      col("ts_ms"))

    val velocity = geo match {
      case None => None
      case Some(_) =>
        val logins = fxa.filter(col("summary") === "loginSuccess")
        // escalated + experimental lower-bar alerts from ONE
        // dedup+lag state pass — the reference runs both threshold
        // checks over a single state read (CustomsVelocity.java:
        // 281-320), so the plan sorts the login stream once, not
        // once per bar; an event exceeding both bars emits both
        Some(CustomsDetectors.velocityDual(logins,
            col("timestamp"), col("id"), col("uid"), col("email"),
            col("src"), col("lat"), col("lon"),
            cfg.velocityMaxKmPerSecond, cfg.velocityMinDistanceKm,
            cfg.velocityMonitorOnlyMaxKmPerSecond,
            cfg.velocityMonitorOnlyMinDistanceKm)
          .select(lit("customs").as("category"), col("subcategory"),
            lit("warn").as("severity"), lit("uid").as("key_kind"),
            col("uid").cast("string").as("key"),
            col("km_centi").cast("long").as("count"),
            col("ts_ms").cast("long").as("alert_ts_ms")))
    }

    val base = enumeration
      .unionByName(srcFailDistAlerts(fxa, cfg, countDistinct(_)))
      .unionByName(summaryAlerts(fxa)).unionByName(comparatorAlerts(hits))
      .unionByName(atRisk).unionByName(monitoredAlerts(fxa, cfg))
    velocity.fold(base)(base.unionByName(_))
  }

  /** The parsed fxa-auth stream projected to the detector fields —
    * shared by every streaming branch: one fast-match-pruned parse,
    * the streaming analogue of analyzeFull's cached batch frame. */
  private def fxaStreamFields(lines: Dataset[String]): DataFrame =
    fxaFields(parsedFxa(lines))

  /** The continuous form of [[analyzeFull]]: the reference's streaming
    * Customs deployment runs every detector off ONE parse
    * (ref s/customs/Customs.java:601-702 wires ~12 transforms over one
    * multiplexed read). Here one append query unions:
    *
    *  - per-class summary counts (15m windowed aggregate);
    *  - source-login-failure-distributed (windowed aggregate per
    *    account; distinct sources counted by
    *    [[Heuristics.cappedDistinct]] at `cfg.streamDistinctCap`, exact
    *    below the cap, so the gate and the alert count agree with the
    *    batch twin at the threshold boundary while per-key state stays
    *    bounded under a flood);
    *  - the stateless status-comparator and monitored-activity
    *    broadcast joins (stream-static, no state).
    *
    * Two detectors stay siblings over the SAME multiplexed input, for
    * the same structural reasons as the HTTP threshold stream:
    * [[enumerationAlertStream]] (the variance gate needs a
    * window-level second aggregation over the finalized window —
    * foreachBatch epilogue), and [[atRiskAlertStream]] (keyed
    * transformWithState, a different state family than windowed
    * aggregates). Geo velocity is not composed here: unlike
    * [[analyzeFull]] this form takes no geo resolver, so it has no
    * velocity branch; the keyed
    * [[graft.streaming.Streaming.customsVelocity]] is a separate query.
    * StreamingSpec proves composed + siblings ≡ analyzeFull batch on
    * the same lines, with the late-event drop pinned. */
  def analyzeStreamFull(lines: Dataset[String],
      cfg: FullConfig = FullConfig(),
      watermarkDelay: String = "30 seconds"): DataFrame = {
    // the watermark is assigned on the UNFILTERED parsed stream, so
    // every event of the resource advances it — a watermark placed
    // after a branch's filter would stall the whole query's (global,
    // min-of-branches) watermark whenever that event class goes quiet.
    // Catalyst moves a branch filter that does not read the event time
    // below the watermark; filters never cross an observation, so this
    // one keeps every parsed event on the clock (without it, status
    // checks from unlisted addresses would stop advancing it)
    val fxa = fxaStreamFields(lines)
      .withWatermark("timestamp", watermarkDelay)
      .observe("customs_events", count(lit(1)).as("n_events"))
    summaryAlerts(fxa).unionByName(srcFailDistAlerts(fxa, cfg,
        Heuristics.cappedDistinct(cfg.streamDistinctCap)))
      .unionByName(comparatorAlerts(comparatorHits(fxa, cfg)))
      .unionByName(monitoredAlerts(fxa, cfg))
  }

  /** Streaming account enumeration with the content-server variance
    * gate — the sibling query of [[analyzeStreamFull]]. It runs the
    * batch form's three steps: [[CustomsDetectors.enumerationEvents]]
    * (auth and content events in ONE keyed aggregate, the per-src
    * content-presence flag riding the same state as the counters),
    * [[CustomsDetectors.enumerationPerSource]] on the watermarked rows,
    * and [[CustomsDetectors.enumerationGate]] (a second, window-level
    * aggregation) as a foreachBatch epilogue over the finalized
    * windows. Distinct emails are counted exactly BELOW
    * `cfg.streamDistinctCap` and saturate AT it
    * ([[Heuristics.cappedDistinct]]), so every gate decides identically
    * to the batch twin at the threshold boundary, and the emitted count
    * agrees with it for any key under the cap. `onAlerts` receives
    * each finalized batch's alert rows.
    *
    * `statePath`, when set, makes the suppression gate RESTART-SAFE:
    * the (key → lastTs, lastCount) map is snapshotted to parquet
    * after every batch that changes it and restored when a new query
    * is built over the same path — matching the reference, where
    * AlertSuppressorCount's per-key Beam state is durable in Dataflow
    * and keeps suppressing across worker restarts. Delivery is
    * at-least-once: a batch's decisions commit, in memory and to the
    * snapshot, only after `onAlerts` returns, so a batch that fails
    * in between is replayed from the checkpoint against the state it
    * started from and re-emits. Without a statePath the map is
    * query-scoped (decisions reset on restart, WEAKER than the
    * reference — use a statePath in production). */
  def enumerationAlertStream(lines: Dataset[String],
      cfg: FullConfig = FullConfig(),
      watermarkDelay: String = "30 seconds",
      statePath: Option[String] = None)(onAlerts: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField,
      StructType}
    import graft.streaming.Streaming
    // AlertSuppressorCount(600) state (ref
    // CustomsAccountEnumeration.java:153): one (lastTs, lastCount)
    // pair per source that has ALERTED — bounded by the alert volume,
    // not the traffic, and pruned once provably stale (see below).
    // The scan runs on the driver over the batch's collected alert
    // rows: alerts are already thresholded window aggregates (a
    // handful per batch by design), the same documented
    // bounded-summary class as budgetSelect's boundary row.
    // heal-then-read through the path's Hadoop FS (hdfs/s3a/local
    // alike) with the declared schema — an absent or half-swapped
    // snapshot restores as empty, never as a construction failure
    val restored = statePath.fold(Map.empty[String, (Long, Long)]) { p =>
      graft.sinks.Sinks.readSnapshotOr(lines.sparkSession, p,
          StructType(Seq(StructField("key", StringType),
            StructField("last_ts_ms", LongType),
            StructField("last_count", LongType))))
        .collect().map(r => r.getAs[String]("key") ->
          (r.getAs[Long]("last_ts_ms"), r.getAs[Long]("last_count"))).toMap
    }
    // (suppression map, prune clock). The prune clock: append mode
    // finalizes a window only once the watermark passes its END, so
    // every future alert's latest-event stamp sits past (max finalized
    // window start) — an entry more than `expiry` older than that can
    // only ever hit the emit-regardless expiry path and is
    // decision-irrelevant
    val committed = new java.util.concurrent.atomic.AtomicReference(
      (restored, Long.MinValue))
    val expiryMs = 600000L
    val parsedAll = Parser.parse(lines.filter(
      Parser.fastFilter("fxaauth") || Parser.fastFilter("fxacontent"))).toDF()
    val perSrc = CustomsDetectors.enumerationPerSource(
      enumerationEvents(
          fxaFields(parsedAll.filter(col("payloadType") === "fxaauth")),
          parsedAll)
        .withWatermark("ts", watermarkDelay),
      cfg.window, Heuristics.cappedDistinct(cfg.streamDistinctCap))
    Streaming.finalized(perSrc) { b =>
      val alerts = alert(CustomsDetectors.enumerationGate(
          cfg.enumerationThreshold, Some(cfg.minVarianceClients))(b),
        "account_enumeration", "sourceaddress", col("src"),
        col("n_emails"), col("latest_ts_ms"))
      // count-aware suppression per source, the kernel of the keyed
      // Streaming.suppressCount, on microseconds (the map and its
      // snapshot keep milliseconds). The clock is the alert's
      // latest-qualifying-event stamp (alert_ts_ms carries it, exactly
      // like the batch twin suppressCountGate)
      val (state, maxWindowStartMs) = committed.get()
      var next = state
      val survivors = alerts.collect().groupBy(_.getAs[String]("key"))
        .toSeq.sortBy(_._1).flatMap { case (k, rows) =>
          val (st, out) = Streaming.suppressCountScan[Row](
            expiryMs * 1000L, _.getAs[Long]("alert_ts_ms") * 1000L,
            _.getAs[Long]("count"))(next.get(k).map { case (t, c) =>
              Streaming.CountState(t * 1000L, c) }, rows.toSeq)
          st.foreach(s => next += k -> ((s.lastEmitUs / 1000L, s.lastCount)))
          out
        }
      // prune decision-irrelevant entries (see clock note above)
      val maxWs = Option(b.agg(max(col("window_start_ms"))).head()
          .getAs[java.lang.Long](0))
        .fold(maxWindowStartMs)(w => math.max(w, maxWindowStartMs))
      if (maxWs != Long.MinValue)
        next = next.filter { case (_, (t, _)) => maxWs - t < expiryMs }
      onAlerts(b.sparkSession.createDataFrame(
        b.sparkSession.sparkContext.parallelize(survivors, 1),
        alerts.schema))
      committed.set((next, maxWs))
      statePath.foreach { p =>
        if (next != state) {
          val ss = b.sparkSession
          import ss.implicits._
          // two-rename swap: a crash mid-overwrite must not lose the
          // whole suppression state (Sinks.atomicSnapshotSwap heals
          // its own window on the next write or restore)
          graft.sinks.Sinks.atomicSnapshotSwap(
            next.toSeq.map { case (k, (t, c)) => (k, t, c) }
              .toDF("key", "last_ts_ms", "last_count"), p)
        }
      }
    }
  }

  /** Streaming at-risk login-failure chain — comparator flags and
    * login failures feed the keyed
    * [[graft.streaming.Streaming.atRiskAccounts]] state kernel
    * (the reference's Datastore `ScannedByEntry` written by the
    * status comparator and read by the lfara transform). Sibling of
    * [[analyzeStreamFull]] because per-key transformWithState is a
    * different state family than its windowed aggregates. */
  def atRiskAlertStream(lines: Dataset[String],
      cfg: FullConfig = FullConfig()): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    import graft.streaming.Streaming
    val fxa = fxaStreamFields(lines)
      .filter(col("src").isNotNull && col("email").isNotNull)
    val ev = fxa.select(col("email").as("key"),
        unix_micros(col("timestamp")).as("tsUs"),
        when(col("summary") === "accountStatusCheckSuccess" &&
            col("src").isin(cfg.monitoredAddrs: _*), "flag")
          .when(col("summary") === "loginFailure", "fail")
          .as("kind"))
      .filter(col("kind").isNotNull)
      .as[Streaming.AccountEvent]
    alert(Streaming.atRiskAccounts(ev).toDF(),
      "login_failure_at_risk_account", "email", col("key"), lit(1),
      col("tsUs") / 1000)
  }
}
