package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Windowed detection heuristics, re-expressed as declarative Spark
  * plans so Catalyst gets partial aggregation, pushdown and pruning
  * for free.
  *
  * Reference semantics (SURVEY.md §2.3–§2.5):
  *  - hard limit:   s/httprequest/heuristics/HardLimitAnalysis.java:108
  *  - threshold:    s/httprequest/heuristics/ThresholdAnalysis.java:104-199
  *                  (per-window global stats consumed as a singleton side
  *                  input → here a broadcast window-keyed join)
  *  - error rate:   s/httprequest/heuristics/ErrorRateAnalysis.java:84-96
  *  - status rate:  s/httprequest/heuristics/StatusCodeRateAnalysis.java:90
  *  - NAT detect:   s/DetectNat.java:123-124 (distinct UAs per source)
  *  - top-k argmax: s/httprequest/heuristics/EndpointAbuseAnalysis.java:206-225
  *  - correlation:  s/SourceCorrelation.java:202-295 (union + group)
  *  - alert summary:s/postprocessing/AlertSummary.java:60-115 (pane-over-pane
  *                  compare → analytic lag)
  *
  * Scale notes: every operator below is a single hash-aggregate (one
  * shuffle on its grouping key) or aggregate + broadcast join. Nothing
  * collects to the driver; nothing shuffles twice on the same key. The
  * per-window stats side of `thresholdAnalysis` is tiny (one row per
  * window) and broadcast explicitly.
  */
object Heuristics {

  /** The windowed-aggregate shape every detector builder shares: group
    * on the `window(ts, duration)` struct plus `keys`, then project the
    * struct's start (epoch-aligned tumbling window) as epoch-millis
    * BIGINT `window_start_ms`, engine-portable with no tz ambiguity.
    * Grouping on the window itself is what lets a watermarked stream
    * finalize the window in append mode; on a static frame the rows
    * equal grouping on the projected start. Output: window_start_ms,
    * the keys, the aggregates. */
  def windowedAgg(df: DataFrame, ts: Column, duration: String,
      keys: Seq[Column])(aggs: Column*): DataFrame = {
    val g = df.groupBy(window(ts, duration) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
    g.select(unix_millis(col("window.start")).as("window_start_ms") +:
      g.columns.toSeq.tail.map(col): _*)
  }

  /** Count events per (window, key); alert where count > limit. On a
    * watermarked stream this is the streaming hard limit as well. */
  def hardLimit(df: DataFrame, ts: Column, key: Column, duration: String,
      limit: Long): DataFrame =
    windowedAgg(df, ts, duration, Seq(key.as("key")))(count(lit(1)).as("n"))
      .filter(col("n") > limit)

  /** Per-(window,key) count vs per-window mean of those counts:
    * alert where count >= mean * modifier ([[thresholdGate]]). */
  def thresholdAnalysis(df: DataFrame, ts: Column, key: Column,
      duration: String, modifier: Double, minCount: Long = 1): DataFrame =
    thresholdGate(modifier, minCount)(
        windowedAgg(df, ts, duration, Seq(key.as("key")))(
          count(lit(1)).as("n")))
      .select(col("window_start_ms"), col("key"), col("n"), col("mean_n"))

  /** The threshold decision over finalized per-(window, key) rows with
    * a count `n`: keep rows where n >= mean * modifier and n >=
    * minCount, the mean taken over every row of the window. The mean
    * is the reference's singleton side input; here an aggregate over
    * the already-aggregated rows (tiny), joined back broadcast. Input
    * columns pass through, plus `mean_n`; a caller that suppresses
    * some keys (the NAT gate) filters after this gate, so suppressed
    * keys still count toward the mean.
    *
    * Batch applies it to the whole aggregate. A stream applies it in
    * a `foreachBatch` epilogue of an append-mode aggregate: when the
    * watermark passes a window, all of that window's keys finalize in
    * the same micro-batch. (A chained agg→agg→stream-join form is
    * accepted by Spark 4, but the join treats the aggregate's output,
    * whose event time lags the watermark by construction, as late and
    * drops it.) */
  def thresholdGate(modifier: Double, minCount: Long = 1)
      : DataFrame => DataFrame = perKey => {
    val perWindow = perKey.groupBy(col("window_start_ms"))
      .agg(avg(col("n")).as("mean_n"))
    perKey.join(broadcast(perWindow), Seq("window_start_ms"))
      .filter(col("n") >= col("mean_n") * modifier && col("n") >= minCount)
  }

  /** The one capped distinct counter of the streaming gates: a bounded
    * [[graft.functions.KMinValuesAggregator]] over the RAW values (no
    * hashing: the `cap` smallest distinct elements of a set count the
    * set exactly below `cap`). The count is min(cap, true distinct),
    * per-key state holds at most `cap` values, and nulls are not
    * counted. A `>= threshold` gate with threshold <= cap therefore
    * decides exactly as an exact count would, in batch and stream
    * alike (Structured Streaming has no exact distinct aggregate). */
  def cappedDistinct(cap: Int): Column => Column = {
    val kmin = udaf(new graft.functions.KMinValuesAggregator(cap))
    v => size(kmin(v).getField("items")).cast("long")
  }

  /** The HTTP per-(window, client) aggregate the hard-limit,
    * error-rate, threshold and NAT decisions all read: request count
    * `n`, 4xx count `errors` and distinct user agents `n_ua`. `n_ua` is
    * [[cappedDistinct]] at cap = `natMinUserAgents` (at least 1): its
    * one reader is [[notGateway]]'s `n_ua >= natMinUserAgents`, which
    * the capped count decides exactly, and the per-key state holds at
    * most that many agents however many a proxy fans out. */
  def perClient(df: DataFrame, ts: Column, key: Column, userAgent: Column,
      status: Column, duration: String, natMinUserAgents: Long): DataFrame =
    windowedAgg(df, ts, duration, Seq(key.as("key")))(
      count(lit(1)).as("n"),
      count(when(status.between(400, 499), 1)).as("errors"),
      cappedDistinct(natMinUserAgents.max(1L).min(Int.MaxValue).toInt)(
        userAgent).as("n_ua"))

  /** The NAT gate as a row predicate over [[perClient]] rows: true where
    * the client is NOT a gateway, i.e. it carries fewer than
    * `minUserAgents` distinct agents in the window (ref
    * DetectNat.java:123-124) and is not a known gateway (ref
    * DetectNat.withKnownGateways). A null key is never a gateway. */
  def notGateway(minUserAgents: Long, knownGateways: Seq[String]): Column = {
    val known =
      if (knownGateways.isEmpty) lit(false)
      else col("key").isin(knownGateways: _*)
    col("key").isNull || !(col("n_ua") >= minUserAgents || known)
  }

  /** Hard-limit and error-rate decisions over [[perClient]] rows:
    * (window_start_ms, key, subcategory, count), "hard_limit" where
    * n > hardLimit and `notGateway` holds (HardLimitAnalysis.java:
    * 88-128 takes the NAT view), "error_rate" where errors > maxErrors
    * (ErrorRateAnalysis takes none). Row filters only, so a stream
    * applies it inline. */
  def rateGate(hardLimit: Long, maxErrors: Long, notGateway: Column)
      : DataFrame => DataFrame = perClient => {
    def rows(keep: Column, subcategory: String, n: String) =
      perClient.filter(keep).select(col("window_start_ms"), col("key"),
        lit(subcategory).as("subcategory"), col(n).as("count"))
    rows(col("n") > hardLimit && notGateway, "hard_limit", "n")
      .unionByName(rows(col("errors") > maxErrors, "error_rate", "errors"))
  }

  /** Count matching events (e.g. 4xx) per (window, key); alert where
    * count > maxErrors — the [[hardLimit]] over the matching events. */
  def errorRate(df: DataFrame, ts: Column, key: Column, isError: Column,
      duration: String, maxErrors: Long): DataFrame =
    hardLimit(df.filter(isError), ts, key, duration, maxErrors)
      .withColumnRenamed("n", "errors")

  /** Error fraction per (window, key): alert where errors/total >= minRatio
    * and total >= minCount. One aggregate with a conditional count —
    * no second scan, no join. */
  def statusCodeRate(df: DataFrame, ts: Column, key: Column, isError: Column,
      duration: String, minRatio: Double, minCount: Long): DataFrame =
    windowedAgg(df, ts, duration, Seq(key.as("key")))(
        count(lit(1)).as("total"), count_if(isError).as("errors"))
      .withColumn("ratio", col("errors") / col("total"))
      .filter(col("total") >= minCount && col("ratio") >= minRatio)

  /** Distinct-attribute cardinality per (window, key) — the reference
    * flags a source as NAT when it carries >= minDistinct user agents.
    * `approxRsd > 0` switches to approx_count_distinct for 100TB scans
    * where exactness is not required. */
  def distinctCardinality(df: DataFrame, ts: Column, key: Column,
      attr: Column, duration: String, minDistinct: Long,
      approxRsd: Double = 0.0): DataFrame = {
    val card =
      if (approxRsd > 0) approx_count_distinct(attr, approxRsd)
      else countDistinct(attr)
    windowedAgg(df, ts, duration, Seq(key.as("key")))(card.as("n_distinct"))
      .filter(col("n_distinct") >= minDistinct)
  }

  /** KMV (k-minimum-values) distinct-count sketch — the ENGINE-PORTABLE
    * sibling of [[distinctCardinality]]'s `approx_count_distinct`: HLL
    * register layouts are engine-specific (which is why q40 is
    * rows-only by declared design), but the k smallest md5 values of a
    * set are a pure function of the set, so the KMV estimate
    * (Bar-Yossef 2002) is bit-identical in ANY engine with md5 —
    * DuckDB mirrors it exactly, estimate included.
    *
    * The sketch: hash every value to a fixed-width 56-bit hex string
    * (fixed-width hex sorts lexicographically = numerically, the
    * epoch-shuffle trick), keep the k smallest DISTINCT hashes per
    * key; with fewer than k distinct values the count is exact, else
    * est = (k−1) · 2^56 DIV kth-smallest-hash — all-integer, no float
    * rounding to drift. Standard error ≈ 1/√(k−2).
    *
    * Scale shape: ONE partial-aggregating exchange. The k smallest
    * distinct hashes per key accumulate in a bounded
    * [[graft.functions.KMinValuesAggregator]] buffer, so map-side
    * combine ships ≤ k rows per key per map task — independent of the
    * key's true cardinality. (The previous `distinct()` + per-key
    * `row_number` window shuffled the ENTIRE distinct hash set and
    * sorted each key's full set in one task — a hot key with 10⁹
    * distinct values would land 10⁹ rows on one reducer, the exact
    * skew profile the sketch exists to avoid. PlanAuditSpec pins the
    * no-Window shape; SkewSpec pins the bounded shuffle payload via
    * task metrics.) k ≤ 64 keeps (k−1)·2^56 inside a BIGINT. The
    * divisor is floored at 1: an all-zero 56-bit hash prefix
    * (probability ≈ 2⁻⁵⁶ per key) must not divide by zero — Spark
    * non-ANSI would yield NULL where the DuckDB mirror errors.
    *
    * [[kmvMembers]], [[kmvSketch]] and [[kmvCounts]] also build
    * [[kmvOverlap]] and the windowed `Streaming.kmvCardinalityStream`.
    *
    * Output: (key, n_kept, est_distinct) — n_kept = min(k, exact). */
  def kmvDistinct(df: DataFrame, key: Column, value: Column,
      k: Int = 32): DataFrame =
    kmvMembers(df, value, key.as("key")).groupBy(col("key"))
      .agg(kmvSketch(k))
      .select(col("key") +: kmvCounts(k): _*)

  /** `keys` plus `h`, the fixed-width 56-bit md5 prefix of `value` —
    * the KMV set members; null values are not set members. */
  private[graft] def kmvMembers(df: DataFrame, value: Column,
      keys: Column*): DataFrame =
    df.select(keys :+ substring(md5(value.cast("string")), 1, 14).as("h"): _*)
      .filter(col("h").isNotNull)

  /** The bounded k-min sketch aggregate over [[kmvMembers]]' `h`: a
    * `mins` struct whose `items` are the k smallest distinct hashes in
    * ascending order. */
  private[graft] def kmvSketch(k: Int): Column = {
    require(k >= 3 && k <= 64, "k must be in [3, 64]")
    udaf(new graft.functions.KMinValuesAggregator(k))
      .apply(col("h")).as("mins")
  }

  /** The KMV estimate over the sorted hash array named `items`: the
    * exact count below k, else (k−1)·2^56 DIV the k-th hash, the
    * divisor floored at 1. */
  private[graft] def kmvEstimate(items: String, k: Int): Column = {
    val kth = s"try_element_at($items, $k)"
    expr(s"CASE WHEN $kth IS NULL THEN CAST(size($items) AS BIGINT) " +
      s"ELSE ${(k - 1).toLong * 72057594037927936L} " + // (k-1) * 2^56
      s"DIV greatest(CAST(conv($kth, 16, 10) AS BIGINT), 1L) END")
  }

  /** The finish over a [[kmvSketch]] column: n_kept, est_distinct. */
  private[graft] def kmvCounts(k: Int): Seq[Column] = Seq(
    size(col("mins.items")).cast("long").as("n_kept"),
    kmvEstimate("mins.items", k).as("est_distinct"))

  /** KMV set-overlap sketch — pairwise union / intersection / Jaccard
    * estimates between every two keys' value sets, computed from the
    * SAME bounded k-min sketches as [[kmvDistinct]] (one
    * [[graft.functions.KMinValuesAggregator]] pass). The estimator is
    * exact WITH RESPECT TO THE SKETCHES by the k-min closure property:
    * the k smallest hashes of A∪B all lie in sketch(A) ∪ sketch(B),
    * and a union-sketch member belonging to set A is necessarily in
    * sketch(A) (fewer than k hashes of A precede it) — so Broder's
    * J ≈ |union-sketch ∩ sketch(A) ∩ sketch(B)| / |union-sketch| is a
    * pure function of the two sketches and therefore bit-identical in
    * ANY engine with md5 (the DuckDB oracle reproduces every number,
    * estimates included). est_intersect = est_union · n_common DIV
    * n_union_kept keeps the whole pipeline in integer arithmetic.
    *
    * Scale shape: ONE bounded partial-aggregating exchange to |keys|
    * sketch rows (≤ k hashes each); the pair math then runs on the
    * tiny sketch frame (|keys|²/2 pairs of ≤k-element arrays) and
    * never touches the corpus again. Intended for low-cardinality key
    * domains (event classes, languages, sources) where pairwise
    * audience overlap is the question — the classic "which segments
    * share users" view that exact distinct-intersection would price
    * at a corpus self-join. That intent is ENFORCED, not assumed:
    * `maxKeys` bounds the pair stage — a caller keying on, say, email
    * domain would otherwise get a 10¹²-pair nested-loop join with no
    * error at scale — and the call fails fast with a clear message
    * when the key domain exceeds it. The sketch frame is resolved
    * EAGERLY at call time (the collect below is bounded-summary
    * class: ≤ maxKeys rows of ≤ k 14-hex hashes), which also makes
    * the corpus aggregate run ONCE — a lazy self-join of the sketch
    * frame would evaluate it per side.
    *
    * Output: (key_a, key_b, n_union_kept, n_common, est_union,
    * est_intersect, jaccard_permille) for key_a < key_b. */
  def kmvOverlap(df: DataFrame, key: Column, value: Column,
      k: Int = 32, maxKeys: Int = 512): DataFrame = {
    require(maxKeys >= 2, "maxKeys must be >= 2")
    val sketches = kmvMembers(df, value, key.as("key")).groupBy(col("key"))
      .agg(kmvSketch(k))
      .select(col("key"), col("mins.items").as("items"))
    val localRows = sketches.limit(maxKeys + 1).collect()
    require(localRows.length <= maxKeys,
      s"kmvOverlap: key domain has more than maxKeys=$maxKeys distinct " +
        "keys; the pair stage is |keys|^2/2 — this operator is for " +
        "low-cardinality key domains. Re-key (or raise maxKeys " +
        "deliberately) if the quadratic pair count is truly intended.")
    val spark = df.sparkSession
    val local = spark.createDataFrame(
      java.util.Arrays.asList(localRows: _*), sketches.schema)
    val a = local.select(col("key").as("key_a"),
      col("items").as("items_a"))
    val b = local.select(col("key").as("key_b"),
      col("items").as("items_b"))
    a.join(broadcast(b), col("key_a") < col("key_b"))
      .withColumn("u",
        slice(array_sort(array_union(col("items_a"), col("items_b"))),
          1, k))
      .withColumn("n_union_kept", size(col("u")).cast("long"))
      .withColumn("n_common", size(array_intersect(col("u"),
        array_intersect(col("items_a"), col("items_b")))).cast("long"))
      .withColumn("est_union", kmvEstimate("u", k))
      .select(col("key_a"), col("key_b"), col("n_union_kept"),
        col("n_common"), col("est_union"),
        // floor(est_union·n_common / n_union_kept) via the exact
        // overflow-free split c·(a DIV b) + (c·(a mod b)) DIV b: the
        // naive product can exceed BIGINT when the kth union hash is
        // pathologically small (est_union near (k−1)·2^56 — the same
        // ~2⁻⁵⁶ class as the kmvDistinct divisor floor), where Spark
        // would wrap silently and DuckDB would error — an engine
        // divergence. Both terms here stay ≤ est_union + k².
        expr("n_common * (est_union DIV n_union_kept) + " +
          "(n_common * (est_union % n_union_kept)) DIV n_union_kept")
          .as("est_intersect"),
        expr("n_common * 1000 DIV n_union_kept").as("jaccard_permille"))
  }

  /** Per-key argmax: the attribute value with the highest count per key
    * (deterministic tie-break on the attribute value). Window-rank over
    * a pre-aggregated frame: the rank input is |keys × attrs|, not |rows|. */
  def topAttrPerKey(df: DataFrame, key: Column, attr: Column): DataFrame = {
    val counts = df.groupBy(key.as("key"), attr.as("attr"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("key"))
      .orderBy(col("n").desc, col("attr").asc)
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Union + group correlation (ref SourceCorrelation): fraction of a
    * key's events that are flagged; alert when the key is busy enough
    * (>= minTotal) and predominantly flagged (>= minRatio). */
  def flaggedRatio(df: DataFrame, key: Column, isFlagged: Column,
      minTotal: Long, minRatio: Double): DataFrame =
    df.groupBy(key.as("key"))
      .agg(count(lit(1)).as("total"), count_if(isFlagged).as("flagged"))
      .withColumn("ratio", col("flagged") / col("total"))
      .filter(col("total") >= minTotal && col("ratio") >= minRatio)

  /** Pane-over-pane alert-rate comparison (ref AlertSummary): count per
    * (window, classifier), compare each window with the previous one via
    * an analytic lag, emit percent change. */
  def paneDelta(df: DataFrame, ts: Column, classifier: Column,
      duration: String): DataFrame = {
    val counts = windowedAgg(df, ts, duration,
      Seq(classifier.as("classifier")))(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("classifier"))
      .orderBy(col("window_start_ms"))
    counts
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .filter(col("prev_n").isNotNull)
      .withColumn("pct_change",
        (col("n") - col("prev_n")) * lit(100.0) / col("prev_n"))
  }

  /** Alert-rate anomaly (ref AlertSummary Evaluator,
    * s/postprocessing/AlertSummary.java:284-520): pane-over-pane
    * percent change per classifier; WARN when the rate moved more
    * than the configured percentage either way. Built on `paneDelta`,
    * so the cost is one windowed count + one analytic lag. */
  def alertSummary(df: DataFrame, ts: Column, classifier: Column,
      duration: String, maxPctIncrease: Double,
      maxPctDecrease: Double): DataFrame =
    paneDelta(df, ts, classifier, duration)
      .filter(col("pct_change") >= maxPctIncrease ||
        col("pct_change") <= -maxPctDecrease)
      .withColumn("direction",
        when(col("pct_change") > 0, "increase").otherwise("decrease"))

  /** One AlertSummary threshold rule (ref s/postprocessing/
    * AlertSummary.java:39-53 — config `classifier:pctup:pctdown:min`;
    * a percent of 0 disables that direction; `minCount` is the floor
    * on the newest window's count). */
  case class SummaryThreshold(classifier: String, pctUp: Double,
      pctDown: Double, minCount: Long)

  /** Full AlertSummary semantics (ref AlertSummary.java:60-520): every
    * alert counts toward four classifiers — global "*", its monitored
    * resource, resource-category, resource-category-subcategory — and
    * each configured threshold compares adjacent windows of its
    * classifier's count, alerting on a sufficient percent move with
    * the newest count at or above the floor.
    *
    * One explode (4 rows/alert) + the shared paneDelta aggregate +
    * a broadcast join against the tiny threshold table. */
  def alertSummaryThresholds(df: DataFrame, ts: Column,
      resource: Column, category: Column, subcategory: Column,
      duration: String, thresholds: Seq[SummaryThreshold]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val classified = df
      .select(ts.as("__ts"), resource.as("r"), category.as("c"),
        subcategory.as("s"))
      .withColumn("classifier", explode(array(lit("*"), col("r"),
        concat_ws("-", col("r"), col("c")),
        concat_ws("-", col("r"), col("c"), col("s")))))
    val thr = thresholds
      .toDF("classifier", "pct_up", "pct_down", "min_count")
    paneDelta(classified, col("__ts"), col("classifier"), duration)
      .join(broadcast(thr), Seq("classifier"))
      .filter(col("n") >= col("min_count") &&
        ((col("pct_up") > 0 && col("pct_change") >= col("pct_up")) ||
          (col("pct_down") > 0 && col("pct_change") <= -col("pct_down"))))
      .select(col("classifier"), col("window_start_ms"), col("n"),
        col("prev_n"), col("pct_change"))
  }

  /** AlertSummary with the reference's EXACT pane pairing (ref
    * s/postprocessing/AlertSummary.java:284-520): SLIDING windows of
    * `widthMinutes` sliding by width/2, split at the midpoint into an
    * old and a new half. Each configured threshold compares the two
    * halves for its classifier, SKIPPING windows where either half is
    * empty (the reference's isEmpty pane check — which is also why a
    * burst-then-silence never alerts as a decrease), and alerts when
    * the TRUNCATED percent move strictly exceeds the bound and the
    * new half meets the floor. Classifiers per alert (ref
    * classifierCounters): "*" always; resource, category,
    * resource-category, resource-category-subcategory only when the
    * alert carries a monitored resource.
    *
    * Scale shape: the slide-by-half window assigns each alert to two
    * windows (constant fan-out), the split is a conditional count
    * inside one hash aggregate, and the threshold table joins
    * broadcast — no self-join of panes. */
  def alertSummaryPanes(df: DataFrame, ts: Column, resource: Column,
      category: Column, subcategory: Column, widthMinutes: Int,
      thresholds: Seq[SummaryThreshold]): DataFrame = {
    require(widthMinutes % 2 == 0, "width must halve evenly")
    val spark = df.sparkSession
    import spark.implicits._
    val half = widthMinutes / 2
    val classified = df
      .select(ts.as("__ts"), resource.as("r"), category.as("c"),
        subcategory.as("s"))
      .withColumn("classifier", explode(array(
        lit("*"),
        col("r"),
        when(col("r").isNotNull, col("c")),
        when(col("r").isNotNull, concat_ws("-", col("r"), col("c"))),
        when(col("r").isNotNull && col("s").isNotNull,
          concat_ws("-", col("r"), col("c"), col("s"))))))
      .filter(col("classifier").isNotNull)
    val thr = thresholds
      .toDF("classifier", "pct_up", "pct_down", "min_count")
    // slide = width/2, so every event sits in exactly two windows:
    // the OLD half of the window starting at its own half-block, and
    // the NEW half of the window one half earlier — derived
    // arithmetically (integer epoch math) instead of via window(),
    // whose struct alias an aggregate cannot reference
    val halfMs = half * 60000L
    // floor semantics via ts - pmod(ts, half): `/` on longs is double
    // division and the long cast truncates toward zero, which would
    // diverge from the oracle's floor division (`//`) for
    // negative-epoch (pre-1970) timestamps; pmod is non-negative, so
    // ts - pmod(ts, h) == floorDiv(ts, h) * h for any sign
    val tsMs = unix_millis(col("__ts")).cast("long")
    val slot = (tsMs - pmod(tsMs, lit(halfMs))).cast("long")
    classified
      .withColumn("pane", explode(array(
        struct(slot.as("ws"), lit(true).as("is_old")),
        struct((slot - halfMs).as("ws"), lit(false).as("is_old")))))
      .groupBy(col("pane.ws").as("window_start_ms"), col("classifier"))
      .agg(
        count(when(col("pane.is_old"), 1)).as("old_n"),
        count(when(!col("pane.is_old"), 1)).as("new_n"))
      .filter(col("old_n") > 0 && col("new_n") > 0)
      .join(broadcast(thr), Seq("classifier"))
      .filter(col("new_n") >= col("min_count") &&
        (((col("pct_up") > 0) &&
          (((col("new_n") - col("old_n")) * lit(100.0) / col("old_n"))
            .cast("int") > col("pct_up"))) ||
         ((col("pct_down") > 0) &&
          (((col("old_n") - col("new_n")) * lit(100.0) / col("old_n"))
            .cast("int") > col("pct_down")))))
      .select(col("classifier"), col("window_start_ms"),
        col("old_n"), col("new_n"))
  }

  /** Ordered-pair detection within a per-key timeline (ref
    * EndpointSequenceAbuse): count occurrences of `firstPred` followed by
    * `secondPred` within `withinSeconds`, per key. Expressed as an
    * equi-join on the key plus a range predicate — Spark executes the
    * equi-part as a hash/sort-merge join, so the quadratic blow-up is
    * bounded per key, and both sides are pre-filtered before the shuffle. */
  def sequencePairs(df: DataFrame, ts: Column, key: Column,
      firstPred: Column, secondPred: Column, withinSeconds: Long): DataFrame = {
    val a = df.filter(firstPred)
      .select(key.as("key"), ts.as("a_ts"))
    val b = df.filter(secondPred)
      .select(key.as("key"), ts.as("b_ts"))
    a.join(b, Seq("key"))
      .filter(col("b_ts") > col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr(s"INTERVAL $withinSeconds SECONDS"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** EndpointSequenceAbuse with the REFERENCE's exact pairing (ref
    * s/httprequest/heuristics/EndpointSequenceAbuse.java:201-233):
    * scan each client's events in time order tracking the LAST
    * first-half request; every second-half request strictly inside
    * `deltaMs` of that last first counts ONE violation — unlike
    * [[sequencePairs]], earlier firsts are superseded, so two firsts
    * followed by one second is a single violation. A first and second
    * at the same timestamp pair (the reference updates the first-half
    * tracker before testing the second half).
    *
    * Shape: ONE analytic window per key (running max of first-half
    * timestamps), not a per-key self-join — no pair blow-up on hot
    * clients; `seq` breaks timestamp ties deterministically. */
  def sequenceAbuse(df: DataFrame, ts: Column, seq: Column, key: Column,
      firstPred: Column, secondPred: Column, deltaMs: Long,
      threshold: Long = 1): DataFrame = {
    val w = Window.partitionBy(col("key"))
      .orderBy(col("ms"), col("is_first").desc, col("seq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.filter(firstPred || secondPred)
      .select(key.as("key"), unix_millis(ts).as("ms"), seq.as("seq"),
        firstPred.as("is_first"), secondPred.as("is_second"))
      .withColumn("last_first_ms",
        max(when(col("is_first"), col("ms"))).over(w))
      .filter(col("is_second") &&
        col("ms") < col("last_first_ms") + lit(deltaMs))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"), max(col("ms")).as("latest_ms"))
      .filter(col("n") >= threshold)
  }

  /** [[sequenceAbuse]] on the slice-and-mend path — the skew-resilient
    * form for a hot client (the probe measured the analytic form
    * straggler-bound at 2.5× under a 50 %-hot key: its single
    * `PARTITION BY key` sort holds the hot key's whole timeline).
    * Result-identical by construction (shares q69's oracle verbatim).
    *
    * Exactness: the tracked statistic is a RUNNING MAX of first-half
    * timestamps, which decomposes over any contiguous time partition
    * as max(within-slice running max, max over all earlier slices) —
    * unlike sessionization there is no slice-width constraint, and no
    * epoch constraint either (integer `DIV` truncation merely widens
    * the slice straddling zero; the slice index stays monotone in
    * `ms`, which is all prefix decomposition needs). Ties at one
    * timestamp land in one slice (the slice is a function of `ms`),
    * so the within-slice (ms, is_first desc, seq) order is the global
    * order restricted to the slice. The mend frame is one row per
    * (key, active slice) — horizon/slice rows per key, never corpus
    * rows — and `greatest` skips nulls exactly like the analytic
    * form's null-ignoring running max. */
  def sequenceAbuseSharded(df: DataFrame, ts: Column, seq: Column,
      key: Column, firstPred: Column, secondPred: Column, deltaMs: Long,
      threshold: Long = 1, sliceSeconds: Long = 3600L): DataFrame = {
    require(sliceSeconds >= 1L, "sliceSeconds must be >= 1")
    val sliceMs = sliceSeconds * 1000L
    val wLocal = Window.partitionBy(col("key"), col("__slice"))
      .orderBy(col("ms"), col("is_first").desc, col("seq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = df.filter(firstPred || secondPred)
      .select(key.as("key"), unix_millis(ts).as("ms"), seq.as("seq"),
        firstPred.as("is_first"), secondPred.as("is_second"))
      .withColumn("__slice", expr(s"ms DIV $sliceMs"))
      .withColumn("__local_max",
        max(when(col("is_first"), col("ms"))).over(wLocal))
    val wk = Window.partitionBy(col("__sk")).orderBy(col("__ss"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prior = local
      .groupBy(col("key").as("__sk"), col("__slice").as("__ss"))
      .agg(max(when(col("is_first"), col("ms"))).as("__mx"))
      .withColumn("__prev_max", max(col("__mx")).over(wk))
      .select(col("__sk"), col("__ss"), col("__prev_max"))
    // null-safe join: the analytic PARTITION BY keeps a null key as
    // its own group (the assignSessionsSharded contract)
    local.join(prior,
        (col("key") <=> col("__sk")) && (col("__slice") <=> col("__ss")))
      .withColumn("last_first_ms",
        greatest(col("__local_max"), col("__prev_max")))
      .filter(col("is_second") &&
        col("ms") < col("last_first_ms") + lit(deltaMs))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"), max(col("ms")).as("latest_ms"))
      .filter(col("n") >= threshold)
  }

  /** CARD-DRIVEN [[sequenceAbuse]] — one [[Skew.keySkewCard]] pass
    * over the predicate-relevant rows' keys (xxhash64-relabelled so
    * string keys diagnose without a manual pre-hash — the hash only
    * renames keys, leaving share/fold unchanged), then
    * [[Skew.choosePath]] maps the card to the analytic or prefix-max
    * sharded form per the measured crossovers. Both paths are
    * result-identical (q173 ≡ q69's oracle), so the card changes
    * cost, never answers (the sessionSummaryAuto pattern). */
  def sequenceAbuseAuto(df: DataFrame, ts: Column, seq: Column,
      key: Column, firstPred: Column, secondPred: Column, deltaMs: Long,
      threshold: Long = 1): DataFrame = {
    val card = Skew.keySkewCard(
      df.filter(firstPred || secondPred)
        .select(xxhash64(key).as("__k")), col("__k"))
    val path =
      if (card.isEmpty) Skew.SerialPath.Analytic
      else Skew.choosePath(card, Skew.SerialOp.SequenceAbuse)
    path match {
      case Skew.SerialPath.Sharded => sequenceAbuseSharded(df, ts, seq,
        key, firstPred, secondPred, deltaMs, threshold)
      case _ => sequenceAbuse(df, ts, seq, key, firstPred, secondPred,
        deltaMs, threshold)
    }
  }
}
