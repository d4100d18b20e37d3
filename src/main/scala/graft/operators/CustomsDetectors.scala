package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Functions

/** The customs account-abuse detector suite (SURVEY.md §2.3/§2.5),
  * re-expressed as declarative Spark plans over a frame of FxA auth
  * events.
  *
  * References:
  *  - CustomsVelocity: s/customs/CustomsVelocity.java:93-351 — per-uid
  *    login-success locations through 5-minute windows, each address
  *    processed once per window, geo-velocity against the previous
  *    (latest-pruned) state entry, minimum-distance gate.
  *  - CustomsAccountEnumeration: s/customs/CustomsAccountEnumeration
  *    .java:70-154 — per-address 10-minute feature windows, threshold
  *    on distinct emails status-checked, single-endpoint gate, and
  *    content-server variance suppression
  *    (ContentServerVarianceDetector.java:37-93).
  *  - CustomsStatusComparator: s/customs/CustomsStatusComparator
  *    .java:89-182 — status-check events from a monitored address list.
  *  - CustomsActivityForMonitoredAccounts:
  *    s/customs/CustomsActivityForMonitoredAccounts.java:51-126.
  *  - Customs.CustomsSummary: s/customs/Customs.java:104-187 —
  *    15-minute per-class event counts.
  *  - SourceLoginFailureDist: s/customs/SourceLoginFailureDist
  *    .java:49-112 — login failures for one account from many sources.
  *  - PrivateRelayForward: s/customs/PrivateRelayForward.java:114-263
  *    — per-uid ordered scan comparing relay forward address hashes
  *    against the last known real-address state.
  *
  * Scale design: every detector is one hash-aggregate or one
  * window-function pass over a single exchange keyed by the detector's
  * natural key (uid / source address / email); monitored-list checks
  * broadcast the small side. Nothing shuffles raw event payloads —
  * only the projected key columns — and nothing materializes per-key
  * groups in memory (lag/row_number stream within a sorted partition),
  * so a hot key degrades to a bigger sort spill, not an executor OOM.
  */
object CustomsDetectors {

  private def windowStartMs(ts: Column, window: String): Column =
    unix_millis(org.apache.spark.sql.functions.window(ts, window)
      .getField("start"))

  /** CustomsVelocity: impossible-travel detection over login-success
    * events. Each address is considered once per `dedupeWindow` per
    * uid; consecutive differing-address events are compared with a
    * haversine distance + time delta, alerting when implied speed
    * exceeds `maxKmPerSecond` and the jump is at least
    * `minDistanceKm`. Distances are emitted quantized to centi-km
    * (floor(km*100+0.5)) so the compare is exact across engines; the
    * time delta uses per-side floored epoch seconds exactly as the
    * reference (AuthStateModel.java:419-421).
    *
    * A zero time delta with a nonzero distance alerts (the reference's
    * km/0 = +Inf exceeds any threshold).
    */
  def velocity(df: DataFrame, ts: Column, seq: Column, uid: Column,
      email: Column, addr: Column, lat: Column, lon: Column,
      maxKmPerSecond: Double, minDistanceKm: Double,
      dedupeWindow: String = "5 minutes"): DataFrame =
    velocityLagged(df, ts, seq, uid, email, addr, lat, lon, dedupeWindow)
      .filter(velocityExceeds(maxKmPerSecond, minDistanceKm))

  /** The threshold predicate over the lagged frame's (km_centi, td_s)
    * — exact integer/centi-km compare, shared by the escalated and
    * monitor-only bars. */
  private def velocityExceeds(maxKmPerSecond: Double,
      minDistanceKm: Double): Column =
    col("km_centi") >= lit(minDistanceKm * 100) &&
      col("km_centi") > lit(maxKmPerSecond * 100) * col("td_s")

  /** The shared dedup + lag state pass of [[velocity]]: per-uid
    * per-dedupe-window address dedup, then consecutive differing-
    * address deltas. Both threshold bars read THIS one frame — the
    * reference runs its escalated and monitor-only checks over a
    * single state read (CustomsVelocity.java:281-320), so the Spark
    * form must not sort the login stream twice either. */
  private def velocityLagged(df: DataFrame, ts: Column, seq: Column,
      uid: Column, email: Column, addr: Column, lat: Column,
      lon: Column, dedupeWindow: String): DataFrame = {
    val base = df.select(uid.as("uid"), ts.as("ts"), seq.as("seq"),
        email.as("email"), addr.as("addr"), lat.as("lat"), lon.as("lon"))
      .filter(col("uid").isNotNull && col("addr").isNotNull &&
        col("lat").isNotNull && col("lon").isNotNull && col("email").isNotNull)
    val dedup = base
      .withColumn("wb", windowStartMs(col("ts"), dedupeWindow))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("uid"), col("wb"), col("addr"))
          .orderBy(col("ts"), col("seq"))))
      .filter(col("rn") === 1).drop("rn", "wb")
    val w = Window.partitionBy(col("uid")).orderBy(col("ts"), col("seq"))
    dedup
      .withColumn("prev_addr", lag(col("addr"), 1).over(w))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("prev_lat", lag(col("lat"), 1).over(w))
      .withColumn("prev_lon", lag(col("lon"), 1).over(w))
      .filter(col("prev_addr").isNotNull && col("addr") =!= col("prev_addr"))
      .withColumn("km_centi",
        floor(Functions.haversineKm(col("prev_lat"), col("prev_lon"),
          col("lat"), col("lon")) * 100 + 0.5).cast("long"))
      .withColumn("td_s",
        floor(unix_millis(col("ts")) / 1000).cast("long") -
          floor(unix_millis(col("prev_ts")) / 1000).cast("long"))
      .select(col("uid"), col("email"),
        unix_millis(col("ts")).as("ts_ms"), col("addr"),
        col("prev_addr"), col("td_s"), col("km_centi"))
  }

  /** Escalated + monitor-only velocity from ONE dedup+lag pass.
    * Output = [[velocity]] columns plus `subcategory` ("velocity" /
    * "velocity_monitor_only"); an event exceeding both bars emits
    * both rows, exactly the reference's unconditional second check
    * over the same state (CustomsVelocity.java:281-320). With no
    * monitor-only bar configured this degrades to the single
    * escalated set. */
  def velocityDual(df: DataFrame, ts: Column, seq: Column, uid: Column,
      email: Column, addr: Column, lat: Column, lon: Column,
      maxKmPerSecond: Double, minDistanceKm: Double,
      monitorOnlyMaxKmPerSecond: Option[Double],
      monitorOnlyMinDistanceKm: Double = 0,
      dedupeWindow: String = "5 minutes"): DataFrame = {
    val lagged = velocityLagged(df, ts, seq, uid, email, addr, lat,
      lon, dedupeWindow)
    monitorOnlyMaxKmPerSecond match {
      case None =>
        lagged.filter(velocityExceeds(maxKmPerSecond, minDistanceKm))
          .withColumn("subcategory", lit("velocity"))
      case Some(kms) =>
        lagged
          .withColumn("subcategory", explode(array(
            when(velocityExceeds(maxKmPerSecond, minDistanceKm),
              lit("velocity")),
            when(velocityExceeds(kms, monitorOnlyMinDistanceKm),
              lit("velocity_monitor_only")))))
          .filter(col("subcategory").isNotNull)
    }
  }

  /** CustomsAccountEnumeration: alert when one source address
    * status-checks `threshold`+ distinct accounts inside a window,
    * touched no endpoint other than the status-check path, and — when
    * content-server events are supplied — does not appear in
    * content-server traffic for a window with at least
    * `minVarianceClients` distinct clients (a window below that floor
    * produces no alerts at all, exactly like the reference's
    * side-input size gate; ContentServerVarianceDetector.java:37-93).
    *
    * `content` must have columns (ts, src). Batch form of
    * [[enumerationEvents]] → [[enumerationPerSource]] →
    * [[enumerationGate]]; the stream runs the same three.
    *
    * `latest_ts_ms` is the latest qualifying status-check event in the
    * window — the reference stamps the alert with it
    * (`alert.setTimestamp(Parser.getLatestTimestamp(events))`,
    * CustomsAccountEnumeration.java:138) and the downstream
    * AlertSuppressorCount's expiry math runs on that stamp, NOT on the
    * window boundary (consecutive 10-minute window STARTS are never
    * strictly more than 600s apart, so a window-start clock could
    * never time-expire).
    */
  def accountEnumeration(df: DataFrame, ts: Column, addr: Column,
      email: Column, path: Column, isStatusCheck: Column,
      window: String, threshold: Long,
      content: Option[DataFrame] = None,
      minVarianceClients: Long = 0L): DataFrame =
    enumerationGate(threshold, content.map(_ => minVarianceClients))(
      enumerationPerSource(enumerationEvents(df, ts, addr, email, path,
        isStatusCheck, content), window))

  /** The enumeration's event rows: auth events as (ts, src, email,
    * path, is_sc) plus content-server (ts, src) rows flagged
    * `is_content`, null sources dropped. A row present in both frames
    * counts once on each side. */
  def enumerationEvents(auth: DataFrame, ts: Column, addr: Column,
      email: Column, path: Column, isStatusCheck: Column,
      content: Option[DataFrame]): DataFrame = {
    val a = auth.select(ts.as("ts"), addr.as("src"), email.as("email"),
      path.as("path"), isStatusCheck.as("is_sc"), lit(false).as("is_content"))
    content.fold(a)(c => a.unionByName(c.select(col("ts"), col("src"),
        lit(null).cast("string").as("email"),
        lit(null).cast("string").as("path"),
        lit(false).as("is_sc"), lit(true).as("is_content"))))
      .filter(col("src").isNotNull)
  }

  /** Per-(window, src) enumeration aggregate over [[enumerationEvents]]:
    * `n_checks`, `single_path` (countDistinct(path) = 1, answered
    * exactly in constant state as >= 1 non-null path with min ==
    * max), `n_emails` (distinct status-checked accounts, counted by
    * `distinct`: exact in batch, the bounded counter on a stream),
    * `has_content` and `latest_ts_ms`. */
  def enumerationPerSource(events: DataFrame, window: String,
      distinct: Column => Column = countDistinct(_)): DataFrame =
    Heuristics.windowedAgg(events, col("ts"), window, Seq(col("src")))(
      count(when(col("is_sc"), 1)).as("n_checks"),
      (count(col("path")) > 0 && min(col("path")) === max(col("path")))
        .as("single_path"),
      distinct(when(col("is_sc"), col("email"))).as("n_emails"),
      max(when(col("is_content"), 1).otherwise(0)).as("has_content"),
      unix_millis(max(when(col("is_sc"), col("ts")))).as("latest_ts_ms"))

  /** The enumeration's finalized-window gate over [[enumerationPerSource]]
    * rows: both thresholds, the single-endpoint gate, no content-server
    * presence, and with `minVarianceClients` set, the window-client
    * floor. The floor is a second, per-window aggregate, so a stream
    * applies this gate in its `foreachBatch` epilogue, where append
    * mode delivers each finalized window whole. Output:
    * (window_start_ms, src, n_emails, latest_ts_ms). */
  def enumerationGate(threshold: Long, minVarianceClients: Option[Long])
      : DataFrame => DataFrame = perSrc => {
    val alerts = perSrc.filter(col("has_content") === 0 &&
      col("n_checks") >= threshold && col("single_path") &&
      col("n_emails") >= threshold)
    minVarianceClients.fold(alerts) { floor =>
        // rows are unique per (window, src): a row count is the
        // window's distinct content clients. One row per window, so
        // the side always broadcasts
        val clients = perSrc.filter(col("has_content") === 1)
          .groupBy(col("window_start_ms"))
          .agg(count(lit(1)).as("n_clients"))
          .filter(col("n_clients") >= floor)
          .select(col("window_start_ms"))
        alerts.join(broadcast(clients), Seq("window_start_ms"), "left_semi")
      }
      .select(col("window_start_ms"), col("src"), col("n_emails"),
        col("latest_ts_ms"))
  }

  /** CustomsStatusComparator: status-check events whose source address
    * is on the monitored-address list, a literal-set probe (`isin`; a
    * hashed `InSet` above Catalyst's conversion threshold). */
  def statusComparator(df: DataFrame, ts: Column, addr: Column,
      email: Column, monitoredAddrs: Seq[String]): DataFrame =
    df.select(unix_millis(ts).as("ts_ms"), addr.as("src"),
        email.as("email"))
      .filter(col("src").isNotNull && col("email").isNotNull &&
        col("src").isin(monitoredAddrs: _*))

  /** CustomsLoginFailureForAtRiskAccount (ref s/customs/
    * CustomsLoginFailureForAtRiskAccount.java:63-150): login failures
    * for accounts the status comparator previously flagged as at
    * risk. The reference's Datastore state read (ScannedByEntry keyed
    * by email, written by CustomsStatusComparator.java:155-166)
    * becomes a per-email aggregate of the comparator's hit set —
    * earliest flag timestamp, since "a state entry exists when the
    * failure is scanned" is exactly `fail_ts >= min(flag_ts)` under
    * the ordered-scan semantics the streaming twin
    * (`Streaming.atRiskAccounts`) applies per key. The flagged side
    * is bounded by activity from the monitored address list, so it
    * broadcasts; the failure stream is never shuffled.
    *
    * `flagged` is the [[statusComparator]] output (ts_ms, src,
    * email). Output: one row per qualifying failure
    * (ts_ms, email, src). */
  def loginFailureAtRiskAccount(fails: DataFrame, ts: Column,
      email: Column, addr: Column, flagged: DataFrame): DataFrame = {
    val f = flagged.groupBy(col("email"))
      .agg(min(col("ts_ms")).as("flag_ms"))
    fails.select(unix_millis(ts).as("ts_ms"), email.as("email"),
        addr.as("src"))
      .filter(col("email").isNotNull && col("src").isNotNull)
      .join(broadcast(f), Seq("email"))
      .filter(col("ts_ms") >= col("flag_ms"))
      .drop("flag_ms")
  }

  /** CustomsActivityForMonitoredAccounts: login activity for accounts
    * on the monitored-account list (the same literal-set probe as
    * [[statusComparator]]). */
  def monitoredActivity(df: DataFrame, ts: Column, email: Column,
      addr: Column, action: Column,
      monitoredAccounts: Seq[String]): DataFrame =
    df.select(unix_millis(ts).as("ts_ms"), email.as("email"),
        addr.as("src"), action.as("action"))
      .filter(col("email").isNotNull && col("src").isNotNull &&
        col("email").isin(monitoredAccounts: _*))

  /** CustomsSummary: per-class event counts over fixed windows. */
  def summary(df: DataFrame, ts: Column, cls: Column,
      window: String = "15 minutes"): DataFrame =
    Heuristics.windowedAgg(df.filter(cls.isNotNull), ts, window,
      Seq(cls.as("class")))(count(lit(1)).as("n"))

  /** SourceLoginFailureDist: one account failing logins from
    * `threshold`+ distinct source addresses within a window (total
    * failure count must also meet the threshold, matching the
    * reference's cheap pre-gate). `distinct` counts the sources:
    * exact in batch, the bounded counter on a stream. */
  def sourceLoginFailureDist(df: DataFrame, ts: Column, email: Column,
      addr: Column, isFailure: Column, window: String,
      threshold: Long, distinct: Column => Column = countDistinct(_))
      : DataFrame =
    Heuristics.windowedAgg(df.filter(isFailure && email.isNotNull), ts,
        window, Seq(email.as("email")))(
        count(lit(1)).as("n_failures"), distinct(addr).as("n_src"))
      .filter(col("n_failures") >= threshold && col("n_src") >= threshold)
      .drop("n_failures")

  /** CustomsAccountCreationDist (ref s/customs/
    * CustomsAccountCreationDist.java:60-125): within a window and an
    * email DOMAIN, each account creation is compared against every
    * other creation of the domain whose local-part Levenshtein ratio
    * (distance / max length) is at or below `ratioUpper`; if the
    * similar set spans more than one source address and has at least
    * `threshold` members, the creation alerts with count = similars+1
    * and the ", "-joined similar-email list.
    *
    * Two deliberate divergences: (1) the reference aborts the WHOLE
    * domain when the first-iterated creation lacks address variance
    * (a mid-loop `return` — iteration-order dependent); here the
    * variance gate applies per creation, deterministically. (2) the
    * input is `dropDuplicates()`-ed, so repeated identical creation
    * events of the same (window, email, src) collapse to one row; the
    * reference counts every similar event occurrence (cand.size(),
    * CustomsAccountCreationDist.java:89-104), so n/email_similar can
    * undercount vs the reference when the same creation event is
    * delivered more than once in a window.
    *
    * Scale shape: the pair join is an equi-join on (window, domain,
    * length band) — the reference's per-key grouping plus a blocking
    * key that bounds the PAIR COUNT inside a hot domain (gmail.com at
    * corpus scale would otherwise make the group quadratic). The band
    * is sound, not heuristic: ratio ≤ r forces lev ≥ |lenA − lenB| ≤
    * r·max(len), i.e. max(len)/min(len) ≤ 1/(1−r), so geometric bands
    * with base 1/(1−r) put any qualifying pair within one band of
    * each other; the probe side emits ±2 neighbor bands (±1 for the
    * math, one extra for floating-point floor(log) edge safety), so
    * every qualifying pair still matches — exactly once, since the
    * neighbor bands are distinct — and the exact levenshtein filter
    * is unchanged. A first-char blocking key would NOT be sound here
    * (ratio 0.25 pairs can differ in their first character), so
    * length is the only blocking dimension. */
  def accountCreationDist(df: DataFrame, ts: Column, email: Column,
      addr: Column, isCreate: Column, window: String, threshold: Long,
      ratioUpper: Double = 0.35): DataFrame = {
    val creations = df.filter(isCreate && email.isNotNull)
      .select(windowStartMs(ts, window).as("window_start_ms"),
        email.as("email"), addr.as("src"),
        substring_index(email, "@", -1).as("domain"),
        substring_index(email, "@", 1).as("local"))
      .dropDuplicates()
    pairCandidates(creations, ratioUpper)
      .filter(col("email") =!= col("email_b") &&
        levenshtein(col("local"), col("local_b")) <=
          greatest(length(col("local")), length(col("local_b"))) * ratioUpper)
      .groupBy(col("window_start_ms"), col("domain"), col("email"),
        col("src"))
      .agg(count(lit(1)).as("n_similar"),
        max(when(col("src_b") =!= col("src"), 1).otherwise(0))
          .as("addr_variance"),
        array_join(array_sort(collect_list(col("email_b"))), ", ")
          .as("email_similar"))
      .filter(col("addr_variance") === 1 && col("n_similar") >= threshold)
      .select(col("window_start_ms"), col("email"), col("src"),
        (col("n_similar") + 1).as("n"), col("email_similar"))
  }

  /** The banded candidate-pair join of [[accountCreationDist]],
    * factored out so the blocking spec can count candidates directly:
    * all (a, b) creation pairs sharing (window, domain) whose
    * local-part lengths COULD satisfy the ratio bound. Each side
    * carries its own geometric length band (base 1/(1−r)); the probe
    * side explodes ±2 neighbor bands so the equi-join key set is
    * (window, domain, band) — a hot domain's candidate count drops
    * from |group|² to Σ per-band |a-band|·|b-band±2|, while every
    * pair within the ratio bound provably still appears exactly once.
    * Empty local parts (length 0, log undefined) get a sentinel band:
    * they can only ever pair with other empty locals (lev = len of
    * the other side > r·len for any non-empty partner). */
  private[graft] def pairCandidates(creations: DataFrame,
      ratioUpper: Double): DataFrame = {
    val lnBase = math.log(1.0 / (1.0 - ratioUpper))
    def bandOf(len: Column): Column =
      when(len <= 0, lit(Int.MinValue / 2))
        .otherwise(floor(log(len.cast("double")) / lnBase).cast("int"))
    val a = creations
      .toDF("window_start_ms", "email", "src", "domain", "local")
      .withColumn("band", bandOf(length(col("local"))))
    val b = creations
      .toDF("window_start_ms", "email_b", "src_b", "domain", "local_b")
      .withColumn("band0", bandOf(length(col("local_b"))))
      .select(col("window_start_ms"), col("email_b"), col("src_b"),
        col("domain"), col("local_b"),
        explode(array((-2 to 2).map(d => col("band0") + d): _*)).as("band"))
      .drop("band0")
    a.join(b, Seq("window_start_ms", "domain", "band"))
  }

  /** Absolute-edit-distance variant of [[pairCandidates]], shared by
    * the simple pipeline's distributed-creation branch: lev(localA,
    * localB) ≤ d forces |lenA − lenB| ≤ d, so FIXED-width length
    * bands of width d+1 put any qualifying pair within one band of
    * each other; the probe side emits ±1 neighbor bands (distinct
    * values, so each candidate pair appears exactly once) and the
    * exact levenshtein filter downstream is unchanged. The equi-join
    * key is (domain, band) — a hot consumer domain's candidate count
    * drops from |group|² to Σ per-band |a-band|·|b-band±1|, the same
    * blocking soundness argument as the ratio kernel with the
    * simpler width-(d+1) band in place of the geometric one.
    * Input columns: (domain, email, src, local). */
  private[graft] def pairCandidatesAbsolute(creations: DataFrame,
      maxDist: Long): DataFrame = {
    val w = maxDist + 1
    def bandOf(len: Column): Column = floor(len / w).cast("int")
    val a = creations.toDF("domain", "email", "src", "local")
      .withColumn("band", bandOf(length(col("local"))))
    val b = creations.toDF("domain", "email_b", "src_b", "local_b")
      .withColumn("band0", bandOf(length(col("local_b"))))
      .select(col("domain"), col("email_b"), col("src_b"), col("local_b"),
        explode(array((-1 to 1).map(d => col("band0") + d): _*)).as("band"))
      .drop("band0")
    a.join(b, Seq("domain", "band"))
  }

  /** Heuristic one-liners attached to fanned-out customs alerts
    * (ref s/customs/CustomsAlert.java:66-93 description table). */
  val HeuristicDescriptions: Map[String, String] = Map(
    "account_creation_abuse" ->
      "many accounts created from one address in a session",
    "account_creation_abuse_distributed" ->
      "many near-identical accounts created across addresses",
    "source_login_failure" ->
      "many login failures from one source in the window",
    "source_login_failure_distributed" ->
      "one account failing login from many sources in the window",
    "password_reset_abuse" ->
      "many password resets from one source across accounts",
    "velocity" -> "login velocity exceeded for the account",
    "status_comparator" -> "status check matched the comparator list",
    "login_failure_at_risk_account" -> "login failure on an at-risk account")

  /** CustomsAlert fan-out (ref s/customs/CustomsAlert.java:117-434):
    * each customs alert converts into one row per impacted indicator
    * — the source address, the account, every address of a
    * distributed alert, every created account of a creation-abuse
    * alert — shaped for direct consumption by the account platform
    * (indicator type/value, severity, confidence, suggested action,
    * reason). The per-subcategory conversion table compiles into one
    * `explode(CASE ...)` projection; the array HOFs here run over the
    * already-aggregated alert frame (tiny), not the event stream.
    *
    * Input columns are nullable: `emails`/`addrs` are the list
    * metadata of distributed alerts. */
  def alertFanout(alerts: DataFrame, subcategory: Column, tsMs: Column,
      src: Column, email: Column, emails: Column,
      addrs: Column): DataFrame = {
    def ind(t: String, v: Column) =
      struct(lit(t).as("indicator_type"), v.cast("string").as("indicator"))
    val ipInd = ind("sourceaddress", src)
    val emailInd = ind("email", email)
    def emailList = transform(emails, e => ind("email", e))
    def addrList = transform(addrs, a => ind("sourceaddress", a))
    val fan = when(subcategory === "source_login_failure", array(ipInd))
      .when(subcategory === "source_login_failure_distributed", addrList)
      .when(subcategory === "account_creation_abuse",
        concat(array(ipInd), emailList))
      .when(subcategory === "account_creation_abuse_distributed",
        array(ipInd, emailInd))
      .when(subcategory === "password_reset_abuse", array(ipInd))
      .when(subcategory === "velocity", array(ipInd, emailInd))
      .when(subcategory === "status_comparator", array(emailInd))
      .when(subcategory === "login_failure_at_risk_account", array(ipInd))
    val desc = HeuristicDescriptions.foldLeft(lit(null).cast("string")) {
      case (acc, (k, v)) => when(subcategory === k, v).otherwise(acc)
    }
    alerts
      .withColumn("__fan", explode(fan))
      .filter(col("__fan.indicator").isNotNull)
      .select(tsMs.cast("long").as("ts_ms"),
        col("__fan.indicator_type").as("indicator_type"),
        col("__fan.indicator").as("indicator"),
        lit("warn").as("severity"),
        lit(100).as("confidence"),
        lit("suspect").as("suggested_action"),
        subcategory.as("heuristic"),
        desc.as("heuristic_description"))
  }

  /** JSON rendering of fanned-out customs alerts with a fixed field
    * order (stable bytes, like Sinks.alertJson). */
  def fanoutJson(fanned: DataFrame): DataFrame =
    fanned.select(to_json(struct(col("ts_ms"), col("indicator_type"),
      col("indicator"), col("severity"), col("confidence"),
      col("suggested_action"), col("heuristic"),
      col("heuristic_description"))).as("value"))

  /** PrivateRelayForward event types (ref s/parser/PrivateRelay.java). */
  val EmailRelay = "email_relay"
  val FxaRpEvent = "fxa_rp_event"

  /** PrivateRelayForward: per-uid ordered scan over relay forward and
    * RP email-change events. Every event leaves the state's real
    * address equal to its own hash, so the expected value for a
    * forward event is simply the previous event's hash (a lag window);
    * a forward whose hash differs from a known previous value alerts.
    */
  def privateRelayForward(df: DataFrame, ts: Column, seq: Column,
      uid: Column, eventType: Column, realAddress: Column): DataFrame = {
    val w = Window.partitionBy(col("uid")).orderBy(col("ts"), col("seq"))
    df.select(uid.as("uid"), ts.as("ts"), seq.as("seq"),
        eventType.as("event_type"), realAddress.as("real_address"))
      .filter(col("uid").isNotNull &&
        col("event_type").isin(EmailRelay, FxaRpEvent))
      .withColumn("expected", lag(col("real_address"), 1).over(w))
      .filter(col("event_type") === EmailRelay &&
        col("expected").isNotNull &&
        col("expected") =!= col("real_address"))
      .select(col("uid"), unix_millis(col("ts")).as("ts_ms"),
        col("real_address").as("actual"), col("expected"))
  }

  /** [[privateRelayForward]] on the slice-and-mend path — the
    * skew-resilient form for a hot uid (the probe measured the
    * analytic form straggler-bound at 2.4× under a 50 %-hot key: its
    * single `PARTITION BY uid` sort holds the hot uid's whole
    * timeline). Result-identical by construction (shares q46's
    * oracle verbatim).
    *
    * Exactness: the tracked statistic is `lag(real_address, 1)` —
    * within a slice, a row's predecessor is in the same slice (the
    * within-slice (ts, seq) order is the global order restricted to
    * the slice: ties at one timestamp share a slice because the
    * slice is a function of the timestamp); a slice's FIRST row's
    * predecessor is the last row of the uid's previous ACTIVE slice,
    * carried by a lag over the per-(uid, slice) summary frame — one
    * row per active slice, bounded by horizon/slice. `max_by` over
    * the (us, seq) struct picks each slice's last address under the
    * same total order the sort uses. No slice-width constraint (lag
    * only ever crosses ONE boundary backwards, and the summary lag
    * skips empty slices by construction since only active slices
    * have rows); no epoch constraint (`DIV` truncation keeps the
    * slice index monotone in time, which is all the decomposition
    * needs). */
  def privateRelayForwardSharded(df: DataFrame, ts: Column, seq: Column,
      uid: Column, eventType: Column, realAddress: Column,
      sliceSeconds: Long = 3600L): DataFrame = {
    require(sliceSeconds >= 1L, "sliceSeconds must be >= 1")
    val sliceUs = sliceSeconds * 1000000L
    val wLocal = Window.partitionBy(col("uid"), col("__slice"))
      .orderBy(col("ts"), col("seq"))
    val local = df.select(uid.as("uid"), ts.as("ts"), seq.as("seq"),
        eventType.as("event_type"), realAddress.as("real_address"))
      .filter(col("uid").isNotNull &&
        col("event_type").isin(EmailRelay, FxaRpEvent))
      .withColumn("__us", unix_micros(col("ts")))
      .withColumn("__slice", expr(s"__us DIV $sliceUs"))
      .withColumn("__local_prev", lag(col("real_address"), 1).over(wLocal))
      .withColumn("__rn", row_number().over(wLocal))
    val wk = Window.partitionBy(col("__su")).orderBy(col("__ss"))
    val prior = local
      .groupBy(col("uid").as("__su"), col("__slice").as("__ss"))
      .agg(max_by(col("real_address"),
        struct(col("__us"), col("seq"))).as("__last"))
      .withColumn("__prev_last", lag(col("__last"), 1).over(wk))
      .select(col("__su"), col("__ss"), col("__prev_last"))
    // <=> on __slice: a null ts yields a null __us/__slice, and the
    // analytic form KEEPS null-ts rows (nulls sort first in its
    // window) — a plain === here would silently drop them. The null
    // slice stays exact end-to-end: it is its own group (partitionBy
    // groups nulls), sorts FIRST under wk's orderBy (matching the
    // analytic nulls-first timeline), and max_by's struct ordering
    // also sorts a null __us first, so within-null-slice order is
    // the analytic order restricted to it. Same contract as
    // sequenceAbuseSharded's join.
    local.join(prior,
        col("uid") === col("__su") && col("__slice") <=> col("__ss"))
      .withColumn("expected",
        when(col("__rn") === 1, col("__prev_last"))
          .otherwise(col("__local_prev")))
      .filter(col("event_type") === EmailRelay &&
        col("expected").isNotNull &&
        col("expected") =!= col("real_address"))
      .select(col("uid"), unix_millis(col("ts")).as("ts_ms"),
        col("real_address").as("actual"), col("expected"))
  }

  /** CARD-DRIVEN [[privateRelayForward]] — one [[Skew.keySkewCard]]
    * pass over the relay-relevant rows' uids (xxhash64-relabelled;
    * the hash only renames keys, leaving share/fold unchanged), then
    * [[Skew.choosePath]] picks the analytic or slice-and-mend form
    * per the measured crossovers. Both paths are result-identical
    * (q172 ≡ q46's oracle) — the sessionSummaryAuto pattern for the
    * relay scan. */
  def privateRelayForwardAuto(df: DataFrame, ts: Column, seq: Column,
      uid: Column, eventType: Column, realAddress: Column): DataFrame = {
    val card = Skew.keySkewCard(
      df.filter(uid.isNotNull &&
          eventType.isin(EmailRelay, FxaRpEvent))
        .select(xxhash64(uid).as("__k")), col("__k"))
    val path =
      if (card.isEmpty) Skew.SerialPath.Analytic
      else Skew.choosePath(card, Skew.SerialOp.RelayScan)
    path match {
      case Skew.SerialPath.Sharded => privateRelayForwardSharded(df,
        ts, seq, uid, eventType, realAddress)
      case _ => privateRelayForward(df, ts, seq, uid, eventType,
        realAddress)
    }
  }
}
