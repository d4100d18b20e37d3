package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The named HTTPRequest heuristics the reference configures per
  * deployment (SURVEY.md §2.3):
  *
  *  - EndpointAbuseAnalysis (ref s/httprequest/heuristics/
  *    EndpointAbuseAnalysis.java:136-299): per client per window,
  *    count requests to each monitored (method, path); ANY request
  *    off the monitored list sets a variance flag (in
  *    variance-supporting-only mode, only supporting-object requests
  *    — css/js/images — or configured substrings count as variance);
  *    no-variance clients whose busiest monitored endpoint meets its
  *    threshold alert on that endpoint.
  *  - PerEndpointErrorRateAnalysis (ref PerEndpointErrorRateAnalysis
  *    .java:90-230): per client per window, count error responses
  *    matching each configured (method, path-regex, threshold) rule;
  *    alert on the rule with the highest qualifying count.
  *  - UserAgentBlocklistAnalysis (ref UserAgentBlocklistAnalysis
  *    .java:90-180): clients presenting a blocklisted user agent
  *    (full-match against the configured pattern list), NAT-suppressed
  *    via the detect-nat view.
  *
  * All three are single hash-aggregates per (window, client) over
  * codegen'd conditional counts — the per-group loops of the
  * reference collapse into `count(when...)` columns because the
  * endpoint lists are static configuration.
  *
  * Each decision is written once — one aggregate column list per
  * heuristic and one rule pick ([[pickRule]]; ties keep the lowest
  * index, like the reference's strictly-greater max scan). The forms
  * differ only in grouping: [[Heuristics.windowedAgg]], analytic
  * sessions after [[keyedRequests]], or `session_window` in
  * [[graft.streaming.Streaming.perEndpointErrorRateStream]].
  */
object HttpHeuristics {

  /** A configured `threshold:method:path` rule ([[pickRule]]). */
  sealed trait Rule {
    def method: String; def path: String; def threshold: Long
  }

  /** One monitored endpoint (ref EndpointAbuseAnalysis endpoint
    * config `threshold:method:path`). */
  case class Endpoint(method: String, path: String, threshold: Long)
    extends Rule

  /** One error-rate rule; `path` is a regex
    * (ref PerEndpointErrorRateAnalysis `threshold:method:path`). */
  case class ErrorRule(method: String, path: String, threshold: Long)
    extends Rule

  /** Supporting-object check (ref EndpointAbuseAnalysis.java:280-291). */
  def isSupporting(path: Column): Column =
    Seq(".css", ".js", ".gif", ".jpg", ".ico", ".svg", ".png")
      .map(path.endsWith(_)).reduce(_ || _)

  /** The rule pick every endpoint-abuse and per-endpoint error-rate
    * form finishes with, over aggregated per-rule counts `n_i` (and
    * latest-match times `t_i` when `latest` names an output): keep the
    * rows where some n_i meets its rule's threshold, take the highest
    * qualifying count — greatest() of the qualifying counts, then the
    * FIRST index attaining it, so the lowest index wins ties like the
    * reference's strictly-greater max scan — and project the winner's
    * method, path, count and latest time under the caller's names.
    * Input columns pass through. */
  private[graft] def pickRule(grouped: DataFrame, rules: Seq[Rule],
      method: String, path: String, n: String,
      latest: Option[String] = None): DataFrame = {
    val qual = rules.indices.map(i =>
      when(col(s"n_$i") >= rules(i).threshold, col(s"n_$i")))
    val maxQual = if (qual.length == 1) qual.head else greatest(qual: _*)
    val best = rules.indices.foldLeft(lit(null).cast("int")) {
      (acc, i) => when(acc.isNull && qual(i) === maxQual, i).otherwise(acc)
    }
    def winner(field: Int => Column): Column =
      element_at(array(rules.indices.map(field): _*), col("__best") + 1)
    grouped.withColumn("__best", best).filter(col("__best").isNotNull)
      .withColumns((Seq(method -> winner(i => lit(rules(i).method)),
          path -> winner(i => lit(rules(i).path)),
          n -> winner(i => col(s"n_$i"))) ++
        latest.map(_ -> winner(i => col(s"t_$i")))).toMap)
  }

  /** The reference's keying DoFn (HTTPRequest.java:125-140): requests
    * missing any keyed field (address, method, path) drop before
    * sessionizing. Output: __ts, addr, __m, __p, then `extra`. */
  private[graft] def keyedRequests(df: DataFrame, ts: Column, addr: Column,
      method: Column, path: Column, extra: Column*): DataFrame =
    df.select(Seq(ts.as("__ts"), addr.as("addr"), method.as("__m"),
        path.as("__p")) ++ extra: _*)
      .filter(col("addr").isNotNull && col("__m").isNotNull &&
        col("__p").isNotNull)

  /** Aggregate [[keyedRequests]] rows per analytic client session
    * (`session_id`); `window_max_ts_ms` is Beam's session
    * `w.maxTimestamp()` (last event + gap − 1 ms), stamped on alerts. */
  private def perSession(keyed: DataFrame, gapSeconds: Long)
      (aggs: Column*): DataFrame =
    Sessionize.assignSessions(keyed, col("__ts"), col("addr"), gapSeconds)
      .groupBy(col("addr"), col("session_id"))
      .agg(max(unix_millis(col("__ts"))).as("__last"), aggs: _*)
      .withColumn("window_max_ts_ms",
        col("__last") + lit(gapSeconds * 1000L) - lit(1L))

  /** EndpointAbuseAnalysis's per-client aggregate: `n_i` requests to
    * each monitored (method, path), `n_variance` variance events, and
    * the latest monitored request's time and agent. */
  private def endpointAbuseAggs(ts: Column, method: Column, path: Column,
      url: Column, userAgent: Column, endpoints: Seq[Endpoint],
      varianceSupportingOnly: Boolean,
      customVarianceSubstrings: Seq[String]): Seq[Column] = {
    val monIdx = endpoints.zipWithIndex.foldLeft(lit(null).cast("int")) {
      case (acc, (e, i)) =>
        when(method === e.method && path === e.path, i).otherwise(acc)
    }
    val customVariance = customVarianceSubstrings
      .map(s => url.contains(s)).reduceOption(_ || _).getOrElse(lit(false))
    val varianceEvent = if (!varianceSupportingOnly) monIdx.isNull
      else monIdx.isNull && (isSupporting(path) || customVariance)
    val monTs = when(monIdx.isNotNull, unix_millis(ts))
    endpoints.indices.map(i => count(when(monIdx === i, 1)).as(s"n_$i")) ++
      Seq(count(when(varianceEvent, 1)).as("n_variance"),
        max(monTs).as("latest_ts_ms"),
        max_by(when(monIdx.isNotNull, userAgent), monTs).as("useragent"))
  }

  /** PerEndpointErrorRateAnalysis's per-client aggregate: per rule,
    * `n_i` full-match (method, path-regex) errors and `t_i` the latest
    * one's time. */
  private[graft] def errorRuleAggs(ts: Column, method: Column,
      path: Column, rules: Seq[ErrorRule]): Seq[Column] = {
    val matches = rules.map(r =>
      method === r.method && path.rlike("^(?:" + r.path + ")$"))
    rules.indices.map(i => count(when(matches(i), 1)).as(s"n_$i")) ++
      rules.indices.map(i =>
        max(when(matches(i), unix_millis(ts))).as(s"t_$i"))
  }

  /** EndpointAbuseAnalysis. Output: (window_start_ms, addr,
    * endpoint_method, endpoint_path, n, latest_ts_ms, useragent).
    * The alert user agent is the latest monitored request's agent
    * (deterministic refinement of the reference's iteration-order
    * pick, EndpointAbuseAnalysis.java:182-186).
    *
    * `customVarianceSubstrings` match against the FULL request URL —
    * including the query string, e.g. the reference's own "init?"
    * test value — per the reference's keyed tuple (HTTPRequest.java:
    * 141-147 index 4 = url; EndpointAbuseAnalysis.java:164). Pass
    * `url` when using them; it falls back to `path` (which cannot
    * carry a query string) otherwise. */
  def endpointAbuse(df: DataFrame, ts: Column, addr: Column,
      method: Column, path: Column, userAgent: Column, window: String,
      endpoints: Seq[Endpoint], varianceSupportingOnly: Boolean = false,
      customVarianceSubstrings: Seq[String] = Nil,
      url: Option[Column] = None): DataFrame =
    pickRule(
        Heuristics.windowedAgg(df, ts, window, Seq(addr.as("addr")))(
            endpointAbuseAggs(ts, method, path, url.getOrElse(path),
              userAgent, endpoints, varianceSupportingOnly,
              customVarianceSubstrings): _*)
          .filter(col("n_variance") === 0),
        endpoints, "endpoint_method", "endpoint_path", "n")
      .select(col("window_start_ms"), col("addr"), col("endpoint_method"),
        col("endpoint_path"), col("n"), col("latest_ts_ms"),
        col("useragent"))

  /** EndpointAbuseAnalysis over the reference's actual windowing —
    * per-client session windows (ref HTTPRequest.java:312-325 feeds
    * EndpointAbuseAnalysis through KeyAndWindowForSessionsFireEarly
    * with sessionGapDurationMinutes). Same monitored-count + variance
    * + argmax semantics as [[endpointAbuse]], grouped by (addr,
    * session) instead of fixed windows. */
  def endpointAbuseSessions(df: DataFrame, ts: Column, addr: Column,
      method: Column, path: Column, userAgent: Column,
      gapSeconds: Long, endpoints: Seq[Endpoint],
      varianceSupportingOnly: Boolean = false,
      customVarianceSubstrings: Seq[String] = Nil,
      url: Option[Column] = None): DataFrame = {
    // a null UA becomes "unknown" in the keying DoFn
    val keyed = keyedRequests(df, ts, addr, method, path,
      coalesce(userAgent, lit("unknown")).as("__ua"),
      url.getOrElse(path).as("__u"))
    pickRule(
        perSession(keyed, gapSeconds)(endpointAbuseAggs(col("__ts"),
            col("__m"), col("__p"), col("__u"), col("__ua"), endpoints,
            varianceSupportingOnly, customVarianceSubstrings): _*)
          .filter(col("n_variance") === 0),
        endpoints, "endpoint_method", "endpoint_path", "n")
      .select(col("addr"), col("session_id"), col("endpoint_method"),
        col("endpoint_path"), col("n"), col("latest_ts_ms"),
        col("useragent"), col("window_max_ts_ms"))
  }

  /** PerEndpointErrorRateAnalysis. Input should already be filtered
    * to error responses. Output: (window_start_ms, addr, rule_method,
    * rule_path, n_errors, latest_error_ms). Rule paths FULL-match
    * (the reference's Pattern.matcher(path).matches(),
    * PerEndpointErrorRateAnalysis.java:106-108). */
  def perEndpointErrorRate(df: DataFrame, ts: Column, addr: Column,
      method: Column, path: Column, window: String,
      rules: Seq[ErrorRule]): DataFrame =
    pickRule(
        Heuristics.windowedAgg(df, ts, window, Seq(addr.as("addr")))(
          errorRuleAggs(ts, method, path, rules): _*),
        rules, "rule_method", "rule_path", "n_errors",
        Some("latest_error_ms"))
      .select(col("window_start_ms"), col("addr"), col("rule_method"),
        col("rule_path"), col("n_errors"), col("latest_error_ms"))

  /** PerEndpointErrorRateAnalysis, faithful session form (ref
    * s/httprequest/HTTPRequest.java:96-165
    * KeyAndWindowForSessionsFireEarly + PerEndpointErrorRateAnalysis
    * .java:160-250): the reference filters to client errors FIRST and
    * sessionizes only those per source address (gap =
    * errorSessionGapDurationMinutes), so quiet error periods split
    * sessions even while good traffic continues. Per (addr, session),
    * each rule counts full-match (method, path-regex) errors; the
    * qualifying rule with the highest count wins (first-listed wins
    * ties — the reference's strictly-greater max scan); the row
    * carries the most recent matching error and the session-window
    * max timestamp (last error + gap − 1 ms, Beam's
    * `w.maxTimestamp()`). The session WINDOW tracks every error event
    * in the session, matching or not (the reference sessionizes
    * before rule matching).
    *
    * Input must already be filtered to the error statuses of interest
    * (the reference keeps 400–499). One exchange on addr for the
    * sessionization, then a hash aggregate of conditional counts —
    * same scan shape as the fixed-window form. */
  def perEndpointErrorRateSessions(df: DataFrame, ts: Column,
      addr: Column, method: Column, path: Column, gapSeconds: Long,
      rules: Seq[ErrorRule]): DataFrame =
    pickRule(
        perSession(keyedRequests(df, ts, addr, method, path), gapSeconds)(
          errorRuleAggs(col("__ts"), col("__m"), col("__p"), rules): _*),
        rules, "rule_method", "rule_path", "n_errors",
        Some("latest_error_ms"))
      .select(col("addr"), col("session_id"), col("rule_method"),
        col("rule_path"), col("n_errors"), col("latest_error_ms"),
        col("window_max_ts_ms"))

  /** UserAgentBlocklistAnalysis. `natAddrs`, when given, suppresses
    * clients the NAT detector flagged (broadcast left-anti — the
    * reference's side-input map). Firefox agents are excluded before
    * the blocklist test, as the reference does. Output:
    * (window_start_ms, addr, useragent) — one row per distinct
    * blocklisted agent per client per window. */
  def userAgentBlocklist(df: DataFrame, ts: Column, addr: Column,
      userAgent: Column, window: String, blocklist: Seq[String],
      natAddrs: Option[DataFrame] = None): DataFrame = {
    val pat = "^(?:" + blocklist.map(p => s"(?:$p)").mkString("|") + ")$"
    val base = df
      .filter(addr.isNotNull && userAgent.isNotNull &&
        !userAgent.contains("Firefox/") && userAgent.rlike(pat))
      .select(unix_millis(org.apache.spark.sql.functions.window(ts, window)
          .getField("start")).as("window_start_ms"),
        addr.as("addr"), userAgent.as("useragent"))
      .distinct()
    natAddrs match {
      case None => base
      case Some(nat) => base.join(broadcast(nat
        .select(col(nat.columns.head).as("addr"))), Seq("addr"), "left_anti")
    }
  }
}
