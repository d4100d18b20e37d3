package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Heuristics, Sampling, Sessionize, Similarity, TextAnalysis}
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry demonstrates one operator from SURVEY.md §2 on
  * the driver-provided tables; `oracleSql` holds the DuckDB-equivalent
  * SQL. Determinism rules used throughout (so Spark parquet output
  * hash-matches DuckDB):
  *  - timestamps are emitted as epoch-millis BIGINT, never raw
  *    timestamps (ns vs µs and tz-awareness differ between engines);
  *  - money sums use integer cents — per-row ROUND(x*100)→BIGINT then
  *    SUM — exact regardless of summation order;
  *  - emitted doubles are single IEEE divisions of exactly-computed
  *    operands (deterministic), never order-dependent double sums.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The minimum end-to-end slice from SURVEY.md §7: render
    * log lines → parse (envelope strip + payload probe) → compiled
    * EventFilter predicate → event-time window hard-limit heuristic →
    * structured alert rows. */
  def entry(spark: SparkSession): DataFrame = {
    import graft.filter.EventFilter
    val dir = "/root/testdata/sf0.001"
    val lines = graft.sources.SyntheticLogs.glbLines(Tables.events(spark, dir))
    val pred = EventFilter.compile(Seq(EventFilter.Rule(
      wantSubtype = Some("glb"),
      wantNormalizedTypes = Seq("HTTP_REQUEST"))))
    val parsed = graft.parse.Parser
      .parse(lines.filter(graft.parse.Parser.fastFilter("glb")))
      .toDF().filter(pred)
    Heuristics.hardLimit(parsed, col("timestamp"),
        col("normalized.sourceAddress"), "1 day", limit = 5)
      .select(
        lit("hard_limit_exceeded").as("summary"),
        lit("httprequest").as("category"),
        lit("hard_limit").as("subcategory"),
        lit("warn").as("severity"),
        col("key").as("sourceaddress"),
        col("n").as("count"),
        col("window_start_ms"))
  }

  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  /** The named subset of [[queries]] (every query when `names` is
    * empty). An unknown name fails loudly: a typo must not shrink a
    * run to nothing and still exit 0. */
  def select(names: Seq[String])
      : Map[String, (SparkSession, String) => DataFrame] = {
    val all = queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (names.isEmpty) all else all.filter(kv => names.contains(kv._1))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.3 grouped aggregation w/ partial (map-side) combine + pushdown
    "q01_pricing_summary" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_base_price_cents"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("sum_disc_price_cents"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // §2.3/§2.4 hard-limit heuristic: tumbling window count > limit
    "q02_hard_limit" -> ((s, dir) => {
      Heuristics.hardLimit(Tables.events(s, dir),
          col("ts"), col("user_id"), "1 day", limit = 5)
        .withColumnRenamed("key", "user_id")
        .orderBy(col("window_start_ms"), col("user_id"))
    }),

    // §2.5 threshold heuristic: per-window mean side-input → broadcast join
    "q03_threshold_mean" -> ((s, dir) => {
      Heuristics.thresholdAnalysis(Tables.events(s, dir),
          col("ts"), col("user_id"), "1 day", modifier = 2.0)
        .withColumnRenamed("key", "user_id")
        .orderBy(col("window_start_ms"), col("user_id"))
    }),

    // §2.3 error-rate heuristic: filtered windowed count
    "q04_error_rate" -> ((s, dir) => {
      Heuristics.errorRate(Tables.events(s, dir), col("ts"), col("user_id"),
          col("event_type") === "error", "1 day", maxErrors = 2)
        .withColumnRenamed("key", "user_id")
        .orderBy(col("window_start_ms"), col("user_id"))
    }),

    // §2.3 status-code-rate heuristic: conditional count, single aggregate
    "q05_status_rate" -> ((s, dir) => {
      Heuristics.statusCodeRate(Tables.events(s, dir), col("ts"),
          col("user_id"), col("event_type") === "error", "1 day",
          minRatio = 0.5, minCount = 3)
        .withColumnRenamed("key", "user_id")
        .orderBy(col("window_start_ms"), col("user_id"))
    }),

    // §2.3 top-k/argmax per key (window-rank over pre-aggregated counts)
    "q06_top_event_type" -> ((s, dir) => {
      Heuristics.topAttrPerKey(Tables.events(s, dir),
          col("user_id"), col("event_type"))
        .withColumnRenamed("key", "user_id")
        .withColumnRenamed("attr", "event_type")
        .orderBy(col("user_id"))
    }),

    // §2.3 distinct cardinality per key (NAT detection shape)
    "q07_distinct_types" -> ((s, dir) => {
      Heuristics.distinctCardinality(Tables.events(s, dir), col("ts"),
          col("user_id"), col("event_type"), "1 day", minDistinct = 4)
        .withColumnRenamed("key", "user_id")
        .orderBy(col("window_start_ms"), col("user_id"))
    }),

    // §2.3 rollup (reference AlertSummary's 3 classifier levels, native)
    "q08_rollup_orders" -> ((s, dir) => {
      Tables.orders(s, dir)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),

    // §2.5 left-anti join (NAT/exemption suppression shape)
    "q09_anti_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // §2.5 multi-way broadcast join + aggregation
    "q10_region_revenue" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      // customer joins hint-free: at SF100 it stops fitting a broadcast
      // and AQE should pick the strategy from runtime stats; nation and
      // region are constant-size dims, always broadcastable
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("revenue_cents"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name"))
    }),

    // §2.3 pane-over-pane compare (AlertSummary) via analytic lag
    "q11_pane_delta" -> ((s, dir) => {
      Heuristics.paneDelta(Tables.events(s, dir), col("ts"),
          col("event_type"), "1 day")
        .orderBy(col("classifier"), col("window_start_ms"))
    }),

    // §2.5 union+group correlation (SourceCorrelation shape)
    "q12_flagged_ratio" -> ((s, dir) => {
      Heuristics.flaggedRatio(Tables.events(s, dir), col("user_id"),
          col("event_type") === "error", minTotal = 60, minRatio = 0.25)
        .withColumnRenamed("key", "user_id")
        .orderBy(col("user_id"))
    }),

    // §2.5 sequence/temporal pairing (EndpointSequenceAbuse) — range join
    "q13_sequence_pairs" -> ((s, dir) => {
      Heuristics.sequencePairs(Tables.events(s, dir), col("ts"),
          col("user_id"), col("event_type") === "view",
          col("event_type") === "purchase", withinSeconds = 600)
        .withColumnRenamed("key", "user_id")
        .orderBy(col("user_id"))
    }),

    // §2.4 gap sessionization (session windows, batch form)
    "q14_session_limit" -> ((s, dir) => {
      Sessionize.sessionLimit(Tables.events(s, dir), col("ts"),
          col("user_id"), gapSeconds = 3600, maxSessionEvents = 3)
        .withColumnRenamed("key", "user_id")
        .orderBy(col("user_id"))
    }),

    // training-data ops: exact dedup (hash-groupBy)
    "q15_exact_dedup" -> ((s, dir) => {
      Dedup.exactDedup(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("canonical_id"))
    }),

    // training-data ops: n-gram Jaccard near-dup pairs (inverted-index join)
    "q16_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), col("doc_id"),
          col("text"), n = 3, minJaccard = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // training-data ops: MinHash+LSH candidate pairs (band-bucket join)
    "q17_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashLshPairs(Tables.documents(s, dir), col("doc_id"),
          col("text"), n = 3, numHashes = 16, bands = 8, minEstJaccard = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // training-data ops: SimHash fingerprints (md5-bit majority)
    "q18_simhash" -> ((s, dir) => {
      Dedup.simhash(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    }),

    // training-data ops: brute-force cosine top-k over embeddings —
    // ranked through the bounded TopKAggregator (partial aggregation:
    // k rows per query per map task reach the shuffle), the default
    // rank path for every ANN query here
    "q19_cosine_topk" -> ((s, dir) => {
      Similarity.bruteForceTopK(Tables.embeddings(s, dir), col("vec_id"),
          col("embedding"), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // same ranking through the row_number window twin — identical
    // rows to q19, so the shared oracle pins aggregator ≡ window
    // end-to-end through the driver
    "q65_cosine_topk_window" -> ((s, dir) => {
      Similarity.bruteForceTopKWindow(Tables.embeddings(s, dir), col("vec_id"),
          col("embedding"), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // training-data ops: LSH-bucketed approximate top-k
    "q20_lsh_topk" -> ((s, dir) => {
      Similarity.lshTopK(Tables.embeddings(s, dir), col("vec_id"),
          col("embedding"), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // training-data ops: token statistics
    "q21_token_stats" -> ((s, dir) => {
      TextAnalysis.tokenStats(Tables.documents(s, dir), col("doc_id"),
          col("text"))
        .orderBy(col("doc_id"))
    }),

    // training-data ops: quality-filter scoring
    "q22_quality" -> ((s, dir) => {
      TextAnalysis.qualityScore(Tables.documents(s, dir), col("doc_id"),
          col("text"))
        .orderBy(col("doc_id"))
    }),

    // training-data ops: marker-based class scoring (language-ID shape)
    "q23_classify_markers" -> ((s, dir) => {
      TextAnalysis.classifyByMarkers(Tables.documents(s, dir), col("doc_id"),
          col("text"), MarkerClasses)
        .orderBy(col("doc_id"))
    }),

    // training-data ops: bag-of-words document fingerprint
    "q24_fingerprint" -> ((s, dir) => {
      TextAnalysis.fingerprint(Tables.documents(s, dir), col("doc_id"),
          col("text"))
        .orderBy(col("doc_id"))
    }),

    // §2.2 parser round-trip: events → GLB log lines → Parser.parse →
    // normalized columns must equal the original event attributes
    "q25_parse_roundtrip" -> ((s, dir) => {
      val lines = graft.sources.SyntheticLogs.glbLines(Tables.events(s, dir))
      graft.parse.Parser.parse(lines).toDF()
        .select(
          col("normalized.urlRequestPath").as("path"),
          col("normalized.urlRequestHost").as("host"),
          col("normalized.sourceAddress").as("source_ip"),
          col("normalized.requestMethod").as("method"),
          col("normalized.requestStatus").cast("long").as("status"),
          col("normalized.userAgent").as("ua"),
          unix_millis(col("timestamp")).as("ts_ms"),
          col("payloadType").as("payload_type"))
        // cache before the global sort: range partitioning samples its child,
        // which would otherwise run the mapPartitions parse twice
        .cache()
        .orderBy(col("path"))
    }),

    // §2.2 EventFilter DSL compiled to one Catalyst predicate:
    // glb events with 4xx/5xx status, excluding a user-agent regex
    "q26_event_filter" -> ((s, dir) => {
      import graft.filter.EventFilter
      val lines = graft.sources.SyntheticLogs.glbLines(Tables.events(s, dir))
      val pred = EventFilter.compile(Seq(EventFilter.Rule(
        wantSubtype = Some("glb"),
        wantNormalizedTypes = Seq("HTTP_REQUEST"),
        payload = Seq(EventFilter.IntRange("normalized.requestStatus", 400, 599)),
        except = Seq(EventFilter.Rule(payload = Seq(
          EventFilter.RegexMatch("normalized.userAgent", "ua-1[0-9]$")))))))
      graft.parse.Parser.parse(lines).toDF()
        .filter(pred)
        .select(
          col("normalized.urlRequestPath").as("path"),
          col("normalized.userAgent").as("ua"),
          col("normalized.requestStatus").cast("long").as("status"))
        // cache before the global sort (same double-evaluation hazard as q25)
        .cache()
        .orderBy(col("path"))
    }),

    // §2.6 AlertSuppressor (batch form): greedy per-key emit/suppress
    // scan via secondary sort — O(1) memory per key
    "q27_suppress" -> ((s, dir) => {
      operators.Stateful.suppress(Tables.events(s, dir), col("ts"),
          col("user_id"), expirySeconds = 7200)
        .select(col("key").cast("long").as("user_id"),
          expr("ts_us DIV 1000").as("ts_ms"))
        .orderBy(col("user_id"), col("ts_ms"))
    }),

    // §2.6 geo-velocity (impossible travel): lag-window speed check
    // over positions derived deterministically from event ids
    "q28_geo_velocity" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("lat", (col("event_id") % 18000) / 100.0 - 90.0)
        .withColumn("lon", (col("event_id") % 36000) / 100.0 - 180.0)
      operators.Stateful.geoVelocity(e, col("ts"), col("user_id"),
          col("lat"), col("lon"), maxKmh = 10.0)
        .select(col("key").cast("long").as("user_id"), col("ts_ms"),
          col("speed_kmh"))
        .orderBy(col("user_id"), col("ts_ms"))
    }),

    // §2.3 typed Aggregator (CustomsFeatures shape): per-key class
    // counters + variance index, map-side partial aggregation
    "q29_feature_variance" -> ((s, dir) => {
      // native count_if form (codegen, flat-long partial aggregation);
      // FeaturesSpec pins equality with the typed-Aggregator twin
      operators.Features.typeFeaturesNative(Tables.events(s, dir),
          col("user_id"), col("event_type"))
        .withColumn("user_id", col("key").cast("long")).drop("key")
        .orderBy(col("user_id"))
    }),

    // multimodal: binary payload -> per-partition batched feature
    // extraction (codec-shaped mapPartitions path, stub decode)
    "q30_media_features" -> ((s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir)
        .select(col("doc_id").as("media_id"), lit("text").as("kind"),
          col("text").cast("binary").as("bytes"))
        .as[operators.Multimodal.MediaRow]
      operators.Multimodal.extractFeatures(media).toDF()
        .orderBy(col("media_id"))
    }),

    // multimodal: fixed-size frame sampling over payloads (narrow op)
    "q31_frame_sample" -> ((s, dir) => {
      operators.Multimodal.frameSample(Tables.documents(s, dir),
          col("doc_id"), col("text"), frameSize = 64, everyNth = 2)
        .withColumnRenamed("media_id", "doc_id")
        .withColumnRenamed("frame_bytes", "frame_str")
        .orderBy(col("doc_id"), col("frame_no"))
    }),

    // §2.4 sliding windows (AlertSummary lblock/sblock shape)
    "q32_sliding_window" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "2 days", "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_millis(col("window.start")).as("window_start_ms"),
          col("event_type"), col("n"))
        .orderBy(col("window_start_ms"), col("event_type"))
    }),

    // §2.7 levenshtein similar-name clustering within groups
    // (CustomsAccountCreationDist shape — bounded pair blow-up)
    "q33_edit_cluster" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
        .select(col("c_nationkey"), col("c_mktsegment"), col("c_name"))
      // fan the probe side out: the quadratic levenshtein runs on the
      // stream side of the broadcast join, which is otherwise one task
      val a = Tables.fanOutBy(c.toDF("nk", "seg", "name_a"),
        col("nk"), col("seg"))
      val b = c.toDF("nk", "seg", "name_b")
      a.join(b, Seq("nk", "seg"))
        .filter(col("name_a") < col("name_b") &&
          // threshold form: early-exits the DP once distance exceeds 3
          // and returns -1 for such pairs, so keep = result in [0, 3]
          levenshtein(col("name_a"), col("name_b"), 3).between(0, 3))
        .groupBy(col("nk"), col("seg"))
        .agg(count(lit(1)).as("n_similar_pairs"))
        .orderBy(col("nk"), col("seg"))
    }),

    // §2.2 CIDR exclusion via broadcast radix-trie UDF (the one
    // deliberate UDF) — oracle recomputes membership arithmetically
    "q34_cidr_filter" -> ((s, dir) => {
      val trie = graft.functions.Functions.broadcastCidrs(s,
        Seq("10.0.0.0/28", "10.0.1.0/24"))
      Tables.events(s, dir)
        .withColumn("ip", graft.sources.SyntheticLogs.ipOf(col("user_id")))
        .filter(graft.functions.Functions.cidrMatch(trie)(col("ip")))
        .groupBy(col("user_id"), col("ip"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("user_id"))
    }),

    // §2.7 JSON field extraction + aggregation over the props column
    "q35_json_props" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("user_id"))
        .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_k"))
        .orderBy(col("user_id"))
    }),

    // §2.7 email normalization + domain extraction (engine functions)
    "q36_email_norm" -> ((s, dir) => {
      import graft.functions.Functions
      Tables.events(s, dir)
        .withColumn("email",
          concat(lit("user"), col("user_id"), lit("+tag@d"),
            col("user_id") % 3, lit(".example")))
        .select(col("user_id"),
          Functions.normalizeEmailPlus(col("email")).as("norm_email"),
          Functions.emailDomain(col("email")).as("domain"))
        .dropDuplicates("user_id")
        .orderBy(col("user_id"))
    }),

    // §2.2 XFF client-address selection against trusted-proxy CIDRs
    "q37_xff_client" -> ((s, dir) => {
      import graft.functions.Functions
      val trusted = Functions.broadcastCidrs(s, Seq("10.0.0.0/8"))
      Tables.events(s, dir)
        .withColumn("xff",
          when(col("user_id") % 5 === 0, lit("10.0.0.1, 10.0.0.2"))
            .otherwise(concat(lit("198.51."), col("user_id") % 256,
              lit(".9, 10.0.0.1"))))
        .select(col("user_id"),
          Functions.xffClientAddress(col("xff"), trusted).as("client"))
        .dropDuplicates("user_id")
        .orderBy(col("user_id"))
    }),

    // §2.1 sink-side violation derivation: alerts (from the hard-limit
    // heuristic over parsed log lines) -> iprepd violation records
    "q38_violation" -> ((s, dir) => {
      val lines = graft.sources.SyntheticLogs.glbLines(Tables.events(s, dir))
      val parsed = graft.parse.Parser
        .parse(lines.filter(graft.parse.Parser.fastFilter("glb"))).toDF()
      val alerts = Heuristics.hardLimit(parsed, col("timestamp"),
          col("normalized.sourceAddress"), "1 day", limit = 5)
        .withColumn("subcategory", lit("hard_limit"))
      graft.sinks.Sinks.violations(alerts, col("subcategory"), col("key"))
        .select(col("window_start_ms"), col("ip"), col("violation"),
          col("n"))
        // cache the (small) aggregated alerts before the global sort:
        // range partitioning samples its child, which would re-run
        // the parse+aggregate a second time
        .cache()
        .orderBy(col("window_start_ms"), col("ip"))
    }),

    // §2.2 identity resolution: alias -> canonical via broadcast map
    // join (even users are aliased to a shared account; odd keep name)
    "q39_identity" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .withColumn("username", concat(lit("user"), col("user_id")))
      val aliases = ev.select(col("user_id")).distinct()
        .filter(col("user_id") % 2 === 0)
        .select(concat(lit("user"), col("user_id")).as("alias"),
          concat(lit("acct-"), (col("user_id") / 2).cast("long")).as("canonical"))
      operators.Identity.resolve(ev, col("username"), aliases)
        .groupBy(col("username"), col("identity"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("username"))
    }),

    // training-data ops: IVF-style ANN (seed centroids, cell-restricted
    // search) — the other classic scale path besides LSH
    "q41_ivf_topk" -> ((s, dir) => {
      Similarity.ivfTopK(Tables.embeddings(s, dir), col("vec_id"),
          col("embedding"), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // §2.4 per-session summary rows (gap sessionization, full output)
    "q42_session_summary" -> ((s, dir) => {
      Sessionize.sessionSummary(Tables.events(s, dir), col("ts"),
          col("user_id"), gapSeconds = 3600)
        .withColumnRenamed("key", "user_id")
        .orderBy(col("user_id"), col("session_id"))
    }),

    // §2.3/§2.6 CustomsVelocity: per-uid impossible travel — 5-minute
    // address dedupe, latest-state lag compare, minimum-distance gate
    // (ref s/customs/CustomsVelocity.java:93-351)
    "q43_customs_velocity" -> ((s, dir) => {
      val e = Tables.events(s, dir).filter(col("event_type") === "view")
        .withColumn("email", concat(lit("user"), col("user_id")))
        .withColumn("addr", concat(lit("10.0."), col("user_id") % 256,
          lit("."), col("event_id") % 4))
        // multipliers spread small event-id ranges across the globe
        .withColumn("lat", (col("event_id") * 37 % 18000) / 100.0 - 90.0)
        .withColumn("lon", (col("event_id") * 73 % 36000) / 100.0 - 180.0)
      operators.CustomsDetectors.velocity(e, col("ts"), col("event_id"),
          col("user_id"), col("email"), col("addr"), col("lat"), col("lon"),
          maxKmPerSecond = 0.005, minDistanceKm = 500)
        .withColumnRenamed("uid", "user_id")
        .orderBy(col("user_id"), col("ts_ms"), col("addr"))
    }),

    // §2.3/§2.5 CustomsAccountEnumeration: distinct-email threshold per
    // source, single-endpoint gate, content-server variance suppression
    // (ref s/customs/CustomsAccountEnumeration.java:70-154,
    //  ContentServerVarianceDetector.java:37-93)
    "q44_account_enumeration" -> ((s, dir) => {
      import operators.CustomsDetectors
      val ev = Tables.events(s, dir)
        .withColumn("src", concat(lit("10.0.0."), col("user_id") % 10))
        .withColumn("email", concat(lit("e"), col("event_id") % 97))
        .withColumn("is_sc",
          (col("user_id") % 10).isin(0, 3, 6, 9) ||
            col("event_type") === "click")
        .withColumn("path", when(col("is_sc"), "/v1/account/status")
          .otherwise(concat(lit("/p/"), col("event_type"))))
      val content = ev
        .filter(col("event_type") === "signup" && col("user_id") % 2 === 0)
        .select(col("ts"), col("src"))
      CustomsDetectors.accountEnumeration(ev, col("ts"), col("src"),
          col("email"), col("path"), col("is_sc"), "1 day", threshold = 8,
          content = Some(content), minVarianceClients = 3)
        .orderBy(col("window_start_ms"), col("src"))
    }),

    // §2.3 SourceLoginFailureDist: one account failing from many
    // sources (ref s/customs/SourceLoginFailureDist.java:49-112)
    "q45_srcfail_dist" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("email", concat(lit("user"), col("user_id") % 25))
        .withColumn("src", concat(lit("10.1."), col("event_id") % 13,
          lit(".1")))
      operators.CustomsDetectors.sourceLoginFailureDist(e, col("ts"),
          col("email"), col("src"), col("event_type") === "error",
          "1 day", threshold = 3)
        .orderBy(col("window_start_ms"), col("email"))
    }),

    // §2.6 PrivateRelayForward: per-uid ordered forward-address-hash
    // consistency scan (ref s/customs/PrivateRelayForward.java:114-263)
    "q46_private_relay" -> ((s, dir) => {
      import operators.CustomsDetectors
      val e = Tables.events(s, dir)
        .filter(col("event_type").isin("signup", "view", "click"))
        .withColumn("etype", when(col("event_type") === "signup",
          CustomsDetectors.FxaRpEvent).otherwise(CustomsDetectors.EmailRelay))
        .withColumn("real_address", concat(lit("h"), col("event_id") % 3))
      CustomsDetectors.privateRelayForward(e, col("ts"), col("event_id"),
          col("user_id"), col("etype"), col("real_address"))
        .orderBy(col("uid"), col("ts_ms"), col("actual"))
    }),

    // §2.5 CustomsActivityForMonitoredAccounts: monitored-account
    // list as a literal-set probe (ref s/customs/
    // CustomsActivityForMonitoredAccounts.java:51-126; same probe as
    // CustomsStatusComparator.java:89-182 keyed by address)
    "q47_monitored_activity" -> ((s, dir) => {
      val monitored = (0 until 10000 by 17).map(i => s"user$i")
      val e = Tables.events(s, dir)
        .filter(col("event_type").isin("view", "error"))
        .withColumn("email", concat(lit("user"), col("user_id")))
        .withColumn("src", concat(lit("10.0.0."), col("user_id")))
        .withColumn("action", when(col("event_type") === "view",
          "loginSuccess").otherwise("loginFailure"))
      operators.CustomsDetectors.monitoredActivity(e, col("ts"),
          col("email"), col("src"), col("action"), monitored)
        .orderBy(col("ts_ms"), col("email"), col("action"))
    }),

    // §2.3 CustomsSummary: per-class fixed-window event counts
    // (ref s/customs/Customs.java:104-187)
    "q48_customs_summary" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .filter(col("event_type").isin("error", "signup", "view"))
        .withColumn("class", when(col("event_type") === "error",
            "login_failure")
          .when(col("event_type") === "signup", "account_create_success")
          .otherwise("login_success"))
      operators.CustomsDetectors.summary(e, col("ts"), col("class"),
          "6 hours")
        .orderBy(col("window_start_ms"), col("class"))
    }),

    // §2.6 AuthProfile known-IP state analysis: per-identity address
    // model with entry-age pruning, geo-distance classification of new
    // addresses (ref s/authprofile/AuthProfile.java:568-660,
    // s/authstate/AuthStateModel.java:241-430)
    "q49_auth_state" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("addr", concat(lit("10.0."), col("user_id") % 256,
          lit("."), col("event_id") % 4))
        .withColumn("lat", (col("event_id") * 37 % 18000) / 100.0 - 90.0)
        .withColumn("lon", (col("event_id") * 73 % 36000) / 100.0 - 180.0)
      operators.AuthState.stateAnalyze(e, col("ts"), col("event_id"),
          col("user_id"), col("addr"), col("lat"), col("lon"),
          pruneAgeSeconds = 86400L * 100, maxKmStatic = 2000)
        .withColumn("user_id", col("key").cast("long")).drop("key")
        // entry_key is null without named subnets; not oracle-modeled
        .drop("entry_key")
        // cache before the global sort: range sampling would re-run
        // the opaque mapPartitions state scan twice
        .cache()
        .orderBy(col("user_id"), col("ts_ms"), col("addr"))
    }),

    // §2.5 AwsAssumeRoleCorrelator: cross-account AssumeRole pairing
    // on the shared event id within a session gap (ref s/authprofile/
    // AwsAssumeRoleCorrelator.java:47-198)
    "q50_assume_role" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("sid", concat(lit("s"), expr("event_id DIV 2")))
        .withColumn("fixup", col("event_id") % 2 === 1)
        .withColumn("xacct", col("user_id") % 2 === 0)
        .withColumn("u", concat(lit("user"), col("user_id")))
      operators.AuthState.assumeRoleCorrelate(e, col("sid"), col("ts"),
          col("event_id"), col("fixup"), col("xacct"), col("u"),
          gapSeconds = 600)
        .orderBy(col("shared_id"), col("ts_ms"))
    }),

    // §2.3 AddonMultiMatch: distinct submitters of one upload hash per
    // window (ref s/amo/AddonMultiMatch.java:62-151)
    "q51_addon_multi_match" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("h", concat(lit("H"), col("event_id") % 8))
        .withColumn("email", concat(lit("user"), col("user_id")))
      operators.AmoDetectors.addonMultiMatch(e, col("ts"), col("h"),
          col("email"), "1 day", alertOn = 5)
        .orderBy(col("window_start_ms"), col("upload_hash"))
    }),

    // §2.4 FxaAccountAbuseAlias: distinct plus/dot aliases of one
    // normalized account per gap session (ref s/amo/
    // FxaAccountAbuseAlias.java:66-151)
    "q52_alias_abuse" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("email", concat(
          when(col("event_id") % 3 === 1, "u.ser").otherwise("us.er"),
          col("user_id"), lit("@x.com")))
        .filter(col("event_id") % 3 =!= 0)
      operators.AmoDetectors.fxaAccountAbuseAlias(e, col("ts"),
          col("email"), gapSeconds = 86400, maxAliases = 1)
        .orderBy(col("email_normalized"), col("session_id"))
    }),

    // training-data ops: near-dup cluster formation — connected
    // components (min-label propagation) over the jaccard pair output
    // + survivor pick, the last step of the dedup story
    "q53_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(Tables.documents(s, dir),
        col("doc_id"), col("text"), n = 3, minJaccard = 0.5)
      Dedup.nearDupClusters(pairs, col("doc_a"), col("doc_b"))
        .orderBy(col("doc_id"))
    }),

    // §2.4 Pioneer exfiltration: gap sessions + sliding time-threshold
    // byte scan as a RANGE window frame (ref s/pioneer/Pioneer
    // .java:96-219)
    "q54_pioneer_exfil" -> ((s, dir) => {
      pipelines.PioneerPipeline.exfiltration(Tables.events(s, dir),
          col("ts"), col("event_id"), col("user_id"),
          col("event_id") % 1000, gapSeconds = 172800,
          thresholdSeconds = 86400, thresholdBytes = 3000)
        .withColumnRenamed("key", "user_id")
        .orderBy(col("user_id"), col("session_id"))
    }),

    // §2.2 awsbehavior: configured CloudTrail matcher rules compiled
    // into one single-pass projection (ref s/awsbehavior/
    // AwsBehavior.java:75-147, CloudtrailMatcher.java:30-76)
    "q55_aws_behavior" -> ((s, dir) => {
      import pipelines.AwsBehaviorPipeline
      import AwsBehaviorPipeline.Matcher
      val resolve: String => org.apache.spark.sql.Column = {
        case "eventName" => col("event_type")
        case "mfa" => (col("event_id") % 2).cast("string")
        case "resource" => concat(lit("u"), col("user_id"))
        case other => col(other)
      }
      AwsBehaviorPipeline.matchAlerts(Tables.events(s, dir), col("ts"),
          Seq(
            Matcher("access key created", Seq("eventName" -> "purchase"),
              resource = Some("resource")),
            Matcher("console without mfa",
              Seq("eventName" -> "signup|view", "mfa" -> "0"))),
          resolve, user = concat(lit("user"), col("user_id")))
        .orderBy(col("ts_ms"), col("username"), col("description"))
    }),

    // §2.3 EndpointAbuseAnalysis: monitored-endpoint counts + variance
    // gate + per-client argmax (ref s/httprequest/heuristics/
    // EndpointAbuseAnalysis.java:136-299)
    "q56_endpoint_abuse" -> ((s, dir) => {
      import operators.HttpHeuristics
      val e = Tables.events(s, dir)
        .filter(col("event_type").isin("purchase", "view") ||
          (col("event_type") === "click" && col("user_id") % 7 === 0))
        .withColumn("addr", concat(lit("10.0.0."), col("user_id") % 5))
        .withColumn("method",
          when(col("event_type") === "purchase", "POST").otherwise("GET"))
        .withColumn("path", concat(lit("/e/"), col("event_type")))
        .withColumn("ua", concat(lit("ua-"), col("user_id") % 5))
      HttpHeuristics.endpointAbuse(e, col("ts"), col("addr"),
          col("method"), col("path"), col("ua"), "1 day",
          Seq(HttpHeuristics.Endpoint("POST", "/e/purchase", 2),
            HttpHeuristics.Endpoint("GET", "/e/view", 4)))
        .orderBy(col("window_start_ms"), col("addr"))
    }),

    // §2.3 PerEndpointErrorRateAnalysis: per-client error counts
    // against (method, path-regex, threshold) rules (ref
    // PerEndpointErrorRateAnalysis.java:90-230)
    "q57_endpoint_error_rate" -> ((s, dir) => {
      import operators.HttpHeuristics
      val e = Tables.events(s, dir).filter(col("event_type") === "error")
        .withColumn("addr", concat(lit("10.0.0."), col("user_id") % 3))
        .withColumn("method", lit("GET"))
        .withColumn("path",
          concat(lit("/api/"), col("event_id") % 3, lit("/x")))
      HttpHeuristics.perEndpointErrorRate(e, col("ts"), col("addr"),
          col("method"), col("path"), "1 day",
          Seq(HttpHeuristics.ErrorRule("GET", "^/api/0/.*$", 2),
            HttpHeuristics.ErrorRule("GET", "^/api/1/.*$", 3)))
        .orderBy(col("window_start_ms"), col("addr"))
    }),

    // §2.2 UserAgentBlocklistAnalysis: blocklisted agents per client,
    // NAT-suppressed (ref UserAgentBlocklistAnalysis.java:90-180)
    "q58_ua_blocklist" -> ((s, dir) => {
      import operators.HttpHeuristics
      val all = Tables.events(s, dir)
        .withColumn("addr", concat(lit("10.0.0."), col("user_id")))
        .withColumn("ua", when(col("event_type") === "click",
            concat(lit("bot-"), col("user_id") % 11))
          .otherwise(lit("Mozilla/5.0 Firefox/100")))
      val nat = all.filter(col("user_id") % 10 === 0)
        .select(col("addr")).distinct()
      HttpHeuristics.userAgentBlocklist(all, col("ts"), col("addr"),
          col("ua"), "1 day", Seq("bot-\\d+"), natAddrs = Some(nat))
        .orderBy(col("window_start_ms"), col("addr"), col("useragent"))
    }),

    // §2.3 PostProcessing AlertSummary: multi-level classifier
    // explode + adjacent-window percent-change thresholds with
    // min-count floors (ref s/postprocessing/AlertSummary.java:60-520)
    "q59_alert_summary" -> ((s, dir) => {
      import operators.Heuristics.SummaryThreshold
      val e = Tables.events(s, dir)
        .withColumn("r", concat(lit("r"), col("user_id") % 3))
        .withColumn("c", col("event_type"))
        .withColumn("s", concat(lit("sub"), col("event_id") % 2))
      Heuristics.alertSummaryThresholds(e, col("ts"), col("r"),
          col("c"), col("s"), "1 day", Seq(
            SummaryThreshold("*", 5.0, 5.0, 100),
            SummaryThreshold("r0", 20.0, 0.0, 10),
            SummaryThreshold("r1-error", 0.0, 10.0, 5),
            SummaryThreshold("r2-view-sub1", 30.0, 30.0, 3)))
        .orderBy(col("classifier"), col("window_start_ms"))
    }),

    // training-data ops: URL-level dedup — canonicalize (fragment,
    // case, trailing slash, utm params, param order) then group
    "q60_url_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("url", concat(
          when(col("doc_id") % 2 === 0, "http://Example.COM")
            .otherwise("http://example.com"),
          lit("/p/"), col("source"), lit("/"), col("doc_id") % 40,
          when(col("doc_id") % 3 === 0, "/").otherwise(""),
          when(col("doc_id") % 5 === 0,
            concat(lit("?utm_source=feed&ref="), col("doc_id") % 4))
            .when(col("doc_id") % 5 === 1,
              concat(lit("?ref="), col("doc_id") % 4))
            .otherwise(""),
          when(col("doc_id") % 7 === 0, "#sec").otherwise("")))
      Dedup.urlDedup(d, col("doc_id"), col("url"))
        .orderBy(col("canonical_url"))
    }),

    // §2.3 AddonMultiSubmit: distinct submitters per rounded-size
    // bucket with the 3000-byte floor (ref s/amo/AddonMultiSubmit
    // .java:66-156)
    "q61_addon_multi_submit" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("bytes", col("event_id") * 97 % 50000 + 1)
        .withColumn("email", concat(lit("user"), col("user_id")))
      operators.AmoDetectors.addonMultiSubmit(e, col("ts"),
          col("bytes"), col("email"), "1 day", alertOn = 3)
        .orderBy(col("window_start_ms"), col("size_bucket"))
    }),

    // §2.1 alert notification rendering: hard-limit alerts -> Slack
    // text + email document (subject / assembled text body / rendered
    // html body), all deterministic Column rendering inside codegen
    // (ref alert/Alert.java:86-98, AlertSlack.java:93,
    // AlertMailer.java:114-123, TemplateManager.java:32-44)
    "q63_notify_render" -> ((s, dir) => {
      import graft.sinks.Notify
      val alerts = Heuristics.hardLimit(Tables.events(s, dir),
          col("ts"), col("user_id"), "1 day", limit = 5)
      val alertId = concat(lit("hard_limit-"), col("window_start_ms"),
        lit("-"), col("key"))
      val summary = format_string(
        "hard limit exceeded for user%s: %s requests", col("key"), col("n"))
      val username = concat(lit("user"), col("key"))
      val meta = array(
        Notify.metaEntry(lit("category"), lit("hard_limit")),
        Notify.metaEntry(lit("username"), username),
        Notify.metaEntry(lit("count"), col("n").cast("string")))
      val email = Notify.emailDoc(summary, summary, meta,
        "<html><body><p>${summary_text}</p><p>user=${username} count=${count}</p></body></html>",
        Map("summary_text" -> summary, "username" -> username,
          "count" -> col("n")))
      alerts
        .withColumn("slack_text", Notify.slackText(summary, alertId))
        .withColumn("subject", email("subject"))
        .withColumn("text_body", email("text_body"))
        .withColumn("html_body", email("html_body"))
        .withColumnRenamed("key", "user_id")
        .select(col("window_start_ms"), col("user_id"), col("slack_text"),
          col("subject"), col("text_body"), col("html_body"))
        .orderBy(col("window_start_ms"), col("user_id"))
    }),

    // training-data ops: composed C4-shaped curation chain — quality
    // gate -> marker class ID -> exact-dedup survivor pick, one
    // declarative plan over the operators proven by q15/q22/q23
    "q64_corpus_curate" -> ((s, dir) => {
      pipelines.CorpusPipeline.curate(Tables.documents(s, dir),
          col("doc_id"), col("text"), MarkerClasses)
        .orderBy(col("doc_id"))
    }),

    // training-data ops: embedding-cosine near-dup pairs — the
    // similarity-space dedup operator (LSH bucket join + exact integer
    // cosine verify). Near-duplicate rows are derived in-query: every
    // 4th vector gets a clone with dim 1 sign-flipped (float negation
    // is exact in any IEEE engine, so the oracle derives bit-identical
    // input), giving clone-original cosine = 1 - 2*v1^2/nrm — above
    // 0.875 whenever |v1| is small, as it is for most unit vectors.
    "q62_embedding_neardup" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val clones = emb.filter(col("vec_id") % 4 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, -x).otherwise(x)).as("embedding"))
      val corpus = emb.select(col("vec_id"), col("embedding")).union(clones)
      Similarity.cosineNearDupPairs(corpus, col("vec_id"), col("embedding"),
          minCosine = 0.875)
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // training-data ops: IVF ANN with a deterministic k-means
    // refinement loop (2 Lloyd iterations, floored-mean integer
    // centroids) — the production IVF shape, where seed centroids
    // would misplace cells on clustered corpora
    "q66_ivf_refined" -> ((s, dir) => {
      Similarity.ivfTopKRefined(Tables.embeddings(s, dir), col("vec_id"),
          col("embedding"), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5,
          nCells = 16, iters = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // §2.5/§2.6 PostProcessing watchlist: alerts inner-joined against
    // a broadcast watchlist of watched identifiers, ip + email kinds
    // (ref s/postprocessing/PostProcessing.java:102-258 +
    // s/Watchlist.java — the Datastore RPC batching dissolves into a
    // broadcast join)
    "q67_watchlist" -> ((s, dir) => {
      val alerts = Tables.events(s, dir)
        .filter(col("event_type") === "error")
        .select(unix_millis(col("ts")).as("ts_ms"), col("event_id"),
          concat(lit("user"), col("user_id")).as("email"),
          concat(lit("10.0.0."), col("user_id") % 256).as("src"))
      val wl = s.range(0, 640, 13)
        .select(lit("ip").as("kind"),
          concat(lit("10.0.0."), col("id") % 256).as("value"),
          lit("warn").as("severity_override"))
        .union(s.range(0, 10000, 29)
          .select(lit("email"), concat(lit("user"), col("id")),
            lit("critical")))
        .dropDuplicates("kind", "value")
      val byIp = pipelines.CorrelationPipeline
        .watchlisted(alerts, col("src"), "ip", wl)
        .withColumn("kind", lit("ip"))
      val byEmail = pipelines.CorrelationPipeline
        .watchlisted(alerts, col("email"), "email", wl)
        .withColumn("kind", lit("email"))
      byIp.unionByName(byEmail)
        .orderBy(col("kind"), col("ts_ms"), col("event_id"))
    }),

    // §2.3 CustomsAccountCreationDist: per-creation similar-email set
    // (local-part Levenshtein ratio <= 0.35) with address variance,
    // domain-bounded pair join (ref s/customs/
    // CustomsAccountCreationDist.java:60-125)
    "q68_acct_creation_dist" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .filter(col("event_type") === "signup")
        .withColumn("email", concat(lit("u"), col("event_id") % 30,
          lit("@d"), col("user_id") % 3, lit(".com")))
        .withColumn("src", concat(lit("10.0.0."), col("event_id") % 11))
      operators.CustomsDetectors.accountCreationDist(e, col("ts"),
          col("email"), col("src"), lit(true), "1 day",
          threshold = 3)
        .orderBy(col("window_start_ms"), col("email"), col("src"))
    }),

    // §2.5 EndpointSequenceAbuse with the reference's last-first
    // pairing (each second-half request pairs the LAST first-half
    // inside deltaMs), as ONE analytic window per key — not the
    // all-pairs join of q13 (ref s/httprequest/heuristics/
    // EndpointSequenceAbuse.java:201-233)
    "q69_sequence_abuse" -> ((s, dir) => {
      Heuristics.sequenceAbuse(Tables.events(s, dir), col("ts"),
          col("event_id"), col("user_id"),
          col("event_type") === "click", col("event_type") === "error",
          deltaMs = 3600000L, threshold = 1)
        .withColumnRenamed("key", "user_id")
        .orderBy(col("user_id"))
    }),

    // training-data ops: the PRODUCTION recall path of the cosine
    // near-dup operator — 2 independent hyperplane sets (distinct md5
    // salts) OR'd like MinHash bands, candidates pair-deduped before
    // the single exact verify; same derived clone corpus as q62, so
    // the result is a provable superset of the single-set pairs
    "q70_embedding_neardup_multi" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val clones = emb.filter(col("vec_id") % 4 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, -x).otherwise(x)).as("embedding"))
      val corpus = emb.select(col("vec_id"), col("embedding")).union(clones)
      Similarity.cosineNearDupPairsMulti(corpus, col("vec_id"),
          col("embedding"), minCosine = 0.875, planeSets = 2)
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // §2.3 AlertSummary pane comparison with the reference's EXACT
    // sliding semantics (width-30m windows sliding by 15m, midpoint
    // split, empty-half skip, truncated strict-percent compare) —
    // fixture-replayed against the reference's own expectations and
    // oracled here over the events table
    "q71_alert_summary_panes" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("mr", when(col("user_id") % 3 =!= 0,
          concat(lit("r"), col("user_id") % 2)))
        .withColumn("cat", col("event_type"))
        .withColumn("subcat", when(col("event_id") % 2 === 0, lit("sub")))
      Heuristics.alertSummaryPanes(e, col("ts"), col("mr"), col("cat"),
          col("subcat"), widthMinutes = 30, Seq(
            Heuristics.SummaryThreshold("*", 10.0, 10.0, 2),
            Heuristics.SummaryThreshold("r1", 10.0, 10.0, 2),
            Heuristics.SummaryThreshold("r0-view", 10.0, 10.0, 2)))
        .orderBy(col("classifier"), col("window_start_ms"))
    }),

    // AMO multi-IP-country login abuse: per-account distinct login
    // countries AND addresses per gap-based SESSION (the reference's
    // 15-min-gap session form), with account-exception regexes
    // dropped pre-analysis and aggressive-matcher accounts bypassing
    // the IP bound (ref s/amo/AddonMultiIpLogin.java:36,113-235;
    // fixture-replayed with real MMDB countries, oracled here over
    // derived columns)
    "q72_amo_multi_ip_login" -> ((s, dir) => {
      val e = Tables.events(s, dir).filter(col("event_type") === "view")
        .withColumn("email", concat(lit("user"), col("user_id")))
        .withColumn("addr", concat(lit("10.1."), col("event_id") % 7,
          lit(".1")))
        .withColumn("country", concat(lit("C"), col("event_id") % 3))
      operators.AmoDetectors.multiIpLogin(e, col("ts"), col("email"),
          col("addr"), col("country"), gapSeconds = 86400, alertOn = 2,
          alertOnIp = 3, acctExceptions = Seq("user1\\d"),
          aggMatchers = Seq("user[0-4]"))
        .orderBy(col("email"), col("session_start_ms"))
    }),

    // §2.3 approximate distinct cardinality (HyperLogLog++) — the
    // 100 TB form of the NAT detector where exactness is not needed.
    // No SQL oracle: HLL sketches are engine-specific (driver records
    // the weaker rows-only check); the spec asserts bounded error vs
    // the exact count instead.
    "q40_approx_distinct" -> ((s, dir) => {
      Heuristics.distinctCardinality(Tables.events(s, dir), col("ts"),
          col("user_id"), col("event_type"), "1 day", minDistinct = 1,
          approxRsd = 0.02)
        .withColumnRenamed("key", "user_id")
        .orderBy(col("window_start_ms"), col("user_id"))
    }),

    // §2.3 CustomsFeatures path-diversity variance index (ref
    // s/customs/CustomsFeatures.java:65-84, 303-325): distinct paths
    // + distinct successful paths per key -> clamped score + nominal
    // gate, one hash aggregate
    "q73_path_variance" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("path", concat(lit("/p/"), col("event_id") % 5))
        .withColumn("status",
          when(col("event_id") % 3 === 0, 200).otherwise(404))
      operators.Features.pathVarianceIndex(e, col("user_id"),
          col("path"), col("status"))
        .orderBy(col("key"))
    }),

    // §2.5/§2.6 PostProcessing watchlist ANALYZE (ref PostProcessing
    // .java:260-374): the full metadata-key scan — list-valued email
    // keys split and trimmed, ip keys scalar — against a broadcast
    // watchlist, with severity routing and match provenance
    "q74_watchlist_scan" -> ((s, dir) => {
      val alerts = Tables.events(s, dir).select(
        map(
          lit("alert_id"), concat(lit("a"), col("event_id")),
          lit("meta_email"), concat(lit("u"), col("user_id") % 97,
            lit("@x.com, u"), col("event_id") % 97, lit("@x.com")),
          lit("meta_username"), concat(lit("name"), col("user_id") % 53),
          lit("meta_sourceaddress"), concat(lit("10.2."),
            col("event_id") % 40, lit(".9"))).as("fields"))
      val wl = s.range(0, 97, 13).select(lit("email").as("kind"),
          concat(lit("u"), col("id"), lit("@x.com")).as("object"),
          lit("warn").as("severity"), lit("ops").as("created_by"))
        .union(s.range(0, 40, 7).select(lit("ip"),
          concat(lit("10.2."), col("id"), lit(".9")), lit("critical"),
          lit("sec")))
      pipelines.CorrelationPipeline.watchlistAnalyze(alerts, wl,
          warningEmail = "warn@x.com", criticalEmail = "crit@x.com")
        .orderBy(col("source_alert"), col("matched_metadata_key"),
          col("matched_metadata_value"), col("matched_type"))
    }),

    // §2.4 PerEndpointErrorRateAnalysis in its production windowing —
    // per-client sessions over error events, full-match rule regexes,
    // first-index-wins argmax (ref PerEndpointErrorRateAnalysis
    // .java:160-250 + HTTPRequest.java:96-165)
    "q75_endpoint_error_sessions" -> ((s, dir) => {
      import operators.HttpHeuristics
      val e = Tables.events(s, dir).filter(col("event_type") === "error")
        .withColumn("addr", concat(lit("10.3.0."), col("user_id") % 7))
        .withColumn("method", lit("GET"))
        .withColumn("path",
          concat(lit("/api/"), col("event_id") % 4, lit("/x")))
      HttpHeuristics.perEndpointErrorRateSessions(e, col("ts"),
          col("addr"), col("method"), col("path"), gapSeconds = 3600,
          Seq(HttpHeuristics.ErrorRule("GET", "/api/[01]/.*", 2),
            HttpHeuristics.ErrorRule("GET", "/api/.*", 2)))
        .orderBy(col("addr"), col("session_id"))
    }),

    // §2.7 connected components by large-star/small-star contraction —
    // same pairs and labels as q53, O(log n) rounds instead of
    // O(diameter) (Kiveris et al. SOCC'14)
    "q76_cc_stars" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(Tables.documents(s, dir),
        col("doc_id"), col("text"), n = 3, minJaccard = 0.5)
      Dedup.nearDupClusters(pairs, col("doc_a"), col("doc_b"),
          useStarContraction = true)
        .orderBy(col("doc_id"))
    }),

    // §2.4 EndpointAbuseAnalysis in its production windowing —
    // per-client sessions with the variance exemption and argmax over
    // monitored endpoints (ref EndpointAbuseAnalysis.java:136-299 fed
    // through KeyAndWindowForSessionsFireEarly)
    "q78_endpoint_abuse_sessions" -> ((s, dir) => {
      import operators.HttpHeuristics
      val e = Tables.events(s, dir)
        .filter(col("event_type").isin("view", "purchase") ||
          (col("event_type") === "click" && col("user_id") % 7 === 0))
        .withColumn("addr", concat(lit("10.4.0."), col("user_id") % 5))
        .withColumn("method",
          when(col("event_type") === "purchase", "POST").otherwise("GET"))
        .withColumn("path", concat(lit("/e/"), col("event_type")))
        .withColumn("ua", concat(lit("ua-"), col("user_id") % 5))
      HttpHeuristics.endpointAbuseSessions(e, col("ts"), col("addr"),
          col("method"), col("path"), col("ua"), gapSeconds = 3600,
          Seq(HttpHeuristics.Endpoint("GET", "/e/view", 2),
            HttpHeuristics.Endpoint("POST", "/e/purchase", 2)))
        .orderBy(col("addr"), col("session_id"))
    }),

    // §2.x the COMPOSED batch HTTPRequest pipeline, oracled end to
    // end: GLB rendering -> parse -> hard limit + threshold (both
    // NAT-gated) + error rate + session limit, one alert union (ref
    // HTTPRequest.expandInputMap) — the pipeline-level twin of the
    // per-operator oracles q02/q03/q04/q14
    "q80_http_pipeline" -> ((s, dir) => {
      import s.implicits._
      val lines = Tables.fanOut(Tables.events(s, dir)).select(format_string(
        """{"httpRequest":{"requestMethod":"GET","requestUrl":"https://app.test/e/%s","status":%s,"remoteIp":"%s","userAgent":"ua-%s"},"timestamp":"%s","logName":"projects/graft-test/logs/requests","resource":{"type":"http_load_balancer"}}""",
        col("event_id"),
        when(col("event_type") === "error", 404).otherwise(200),
        concat(lit("10.0.0."), col("user_id") % 37),
        col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"))
        .as("value")).as[String]
      pipelines.HttpRequestPipeline.analyze(lines,
          pipelines.HttpRequestPipeline.Config(window = "1 day",
            hardLimit = 5, thresholdModifier = 1.5, errorMaxCount = 2,
            natMinDistinctUserAgents = 4, sessionGapSeconds = 2700,
            maxSessionEvents = 3))
        .orderBy(col("subcategory"), col("sourceaddress"),
          col("window_start_ms"))
    }),

    // §2.5 AlertNotifyMerge (ref s/alert/AlertIO.java:40-110):
    // same-merge-key alerts collapse to one representative with the
    // "(n-1 similar alerts)" suffix; keyless/singleton pass through
    "q79_notify_merge" -> ((s, dir) => {
      val alerts = Tables.events(s, dir).select(
        concat(lit("alert for user "), col("user_id"), lit(" ev "),
          col("event_id")).as("summary"),
        when(col("event_id") % 5 =!= 0,
          concat(lit("k"), col("user_id") % 100)).as("mk"))
      sinks.Sinks.notifyMerge(alerts, col("mk"))
        .orderBy(col("summary"), col("mk"))
    }),

    // §2.3 session-gap alert suppression (ref the reference's state
    // suppressor semantics: suppressed events EXTEND the quiet
    // period; a strictly-larger gap re-emits)
    "q77_suppress_session" -> ((s, dir) => {
      operators.Stateful.suppressSession(Tables.events(s, dir),
          col("ts"), col("user_id"), gapSeconds = 1800)
        .orderBy(col("key"), col("ts_us"))
    }),

    // §2.6 CustomsLoginFailureForAtRiskAccount: login failures for
    // accounts the status comparator flagged as at risk (ref
    // s/customs/CustomsLoginFailureForAtRiskAccount.java:63-150;
    // the Datastore state CustomsStatusComparator.java:155-166
    // writes becomes a broadcast per-email min-flag-ts aggregate)
    "q81_at_risk_failure" -> ((s, dir) => {
      import operators.CustomsDetectors
      val monitored = Seq("10.9.0.1", "10.9.0.2", "10.9.0.3")
      val e = Tables.events(s, dir)
        .withColumn("email", concat(lit("user"), col("user_id") % 500))
        .withColumn("src",
          when(col("event_type") === "click" && col("event_id") % 7 === 0,
            concat(lit("10.9.0."), col("event_id") % 3 + 1))
            .otherwise(concat(lit("10.0.0."), col("user_id") % 50)))
      val flags = CustomsDetectors.statusComparator(
        e.filter(col("event_type") === "click"),
        col("ts"), col("src"), col("email"), monitored)
      CustomsDetectors.loginFailureAtRiskAccount(
          e.filter(col("event_type") === "error"),
          col("ts"), col("email"), col("src"), flags)
        .orderBy(col("ts_ms"), col("email"), col("src"))
    }),

    // training-data ops: PII detection + scrubbing (regex redaction
    // pass; patterns valid in both Java regex and RE2 so the oracle
    // engine agrees bit-for-bit)
    "q82_pii_scrub" -> ((s, dir) => {
      val d = Tables.documents(s, dir).withColumn("t2",
        when(col("doc_id") % 3 === 0, concat(col("text"),
            lit(" contact user"), col("doc_id"),
            lit("@example.com or 555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
            lit("-1234 ip 10.0."), col("doc_id") % 256,
            lit(".7 ssn 123-45-6789")))
          .otherwise(col("text")))
      TextAnalysis.piiScrub(d, col("doc_id"), col("t2"))
        .orderBy(col("doc_id"))
    }),

    // training-data ops: benchmark decontamination — corpus docs
    // covering >= 50% of a (broadcast) benchmark item's 3-gram
    // shingles; the corpus side never shuffles
    "q83_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + 1000000).as("bid"), col("text"))
      TextAnalysis.decontaminate(docs, col("doc_id"), col("text"),
          bench, col("bid"), col("text"), n = 3, minOverlapFrac = 0.5)
        .orderBy(col("corpus_id"), col("bench_id"))
    }),

    // training-data ops: Gopher-style repetition signals (dup-line
    // fraction + top-bigram concentration with the published gates)
    "q84_repetition" -> ((s, dir) => {
      val d = Tables.documents(s, dir).withColumn("t2",
        when(col("doc_id") % 7 === 0,
          concat_ws("\n", col("text"), col("text"), col("text")))
          .otherwise(col("text")))
      TextAnalysis.repetitionStats(d, col("doc_id"), col("t2"))
        .orderBy(col("doc_id"))
    }),

    // training-data ops: embedding-space benchmark decontamination —
    // bench side (every 50th vector) broadcast, corpus map-scored with
    // the codegen'd integer dot; contaminated rows = injected clones
    // (one dim sign-flipped, as q62's construction) + natural hits
    "q85_embedding_decontaminate" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val bench = emb.filter(col("vec_id") % 50 === 0)
      val clones = bench.select((col("vec_id") + 2000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, -x).otherwise(x)).as("embedding"))
      val corpus = emb.filter(col("vec_id") % 50 =!= 0)
        .select(col("vec_id"), col("embedding")).union(clones)
      Similarity.embeddingDecontaminate(corpus, col("vec_id"),
          col("embedding"), bench, col("vec_id"), col("embedding"),
          minCosine = 0.875)
        .orderBy(col("vec_id"))
    }),

    // training-data ops: exact substring-level dup sweep (Lee et al.
    // ExactSubstr as a window-fingerprint inverted index — narrow
    // window projection, equi-join on the hash, never all-pairs)
    "q87_exact_substring" -> ((s, dir) => {
      Dedup.sharedSubstringPairs(Tables.documents(s, dir),
          col("doc_id"), col("text"), windowSize = 50, stride = 25,
          minShared = 1)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // training-data ops: deterministic hash-stratified mixture
    // sampling — map-only md5-bucket predicate on the scan, no
    // shuffle, reproducible on any cluster layout
    "q86_stratified_sample" -> ((s, dir) => {
      Sampling.stratifiedSample(
          Tables.documents(s, dir).select(col("doc_id"), col("source"),
            col("lang"), col("n_chars")),
          col("doc_id"), col("source"),
          rates = Map("src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5,
            "src3" -> 0.25),
          defaultRate = 0.125)
        .orderBy(col("doc_id"))
    }),

    // training-data ops: URL/domain blocklist curation — label-suffix
    // equi-join (UT1 semantics: an entry blocks itself and its
    // subdomains, never substring matches), blocklist broadcast,
    // doc text never in the projection
    "q90_domain_blocklist" -> ((s, dir) => {
      import s.implicits._
      val d = Tables.documents(s, dir).select(
        col("doc_id"), col("source"), col("lang"),
        concat(
          when(col("doc_id") % 5 === 0, lit("cdn."))
            .when(col("doc_id") % 5 === 1, lit("www."))
            .otherwise(lit("")),
          col("source"),
          when(col("doc_id") % 3 === 0, lit(".tracker.net"))
            .when(col("doc_id") % 3 === 1, lit(".example.com"))
            .otherwise(lit(".example.org"))).as("host"))
      val blocklist = Seq("tracker.net", "www.src1.example.com",
        "src2.example.org").toDF("domain")
      operators.Curation.filterBlockedDomains(d, col("doc_id"),
          col("host"), blocklist, col("domain"))
        .orderBy(col("doc_id"))
    }),

    // training-data ops: corpus-model surprisal quality score — the
    // CCNet/LLaMA perplexity-filter shape with an engine-exact integer
    // statistic (ilog2 via binary-string length, no float log); model
    // agg on the gram key, score re-join on the same key, minCount=2
    // pruning is lossless for this statistic (ilog2(1)=0)
    "q89_surprisal" -> ((s, dir) => {
      TextAnalysis.surprisalScore(Tables.documents(s, dir),
          col("doc_id"), col("text"), n = 2, minCount = 2)
        .orderBy(col("doc_id"))
    }),

    // training-data ops: the mixture planner feeding q86's sampler —
    // per-source availability vs target weight -> 1/256-granular keep
    // threshold (one hash aggregate on the stratum key)
    "q88_mixture_plan" -> ((s, dir) => {
      Sampling.mixturePlan(Tables.documents(s, dir), col("source"),
          col("n_chars"),
          weights = Map("src0" -> 0.30, "src1" -> 0.20, "src2" -> 0.10),
          defaultWeight = 0.05, budget = 100000L)
        .orderBy(col("stratum"))
    }),

    // training-data ops: corpus-level line dedup (RefinedWeb/CCNet
    // boilerplate-line removal) — synthetic footers shared across doc
    // groups are stripped (corpus freq > 5), the 2-char footer is
    // exempt via minLineChars; freq table is one hash agg on the line
    // hash, membership an equi-join on it (no broadcast assumption:
    // the duplicated-line set is corpus-sized)
    "q91_line_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0,
            lit("\nsubscribe to our newsletter today"))
            .when(col("doc_id") % 4 === 1,
              lit("\nall rights reserved worldwide"))
            .when(col("doc_id") % 4 === 2, lit("\nok"))
            .otherwise(lit(""))).as("t2"))
      Dedup.lineDedup(d, col("doc_id"), col("t2"),
          maxLineFreq = 5, minLineChars = 5)
        .orderBy(col("doc_id"))
    }),

    // training-data ops: deterministic sequence-packing plan
    // (concatenate-and-chunk into 2048-token contexts, per-source
    // shards) — one window cumsum partitioned by the shard key, no
    // global sort; offsets/bins are integer DIV, exact at any corpus
    // size
    "q92_packing_plan" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        size(Dedup.tokens(col("text"))).cast("long").as("nt"))
      Sampling.packingPlan(d, col("doc_id"), col("nt"), col("source"),
          ctxLen = 512L)
        .orderBy(col("shard"), col("doc_id"))
    }),

    // training-data ops: SemDeDup semantic dedup — seed-centroid cell
    // assignment (q41's clustering), pair comparison ONLY within the
    // cell (equi-join on the cell key, never corpus-squared), smallest
    // id survives per duplicate group; injected clones (q85's dim-0
    // sign-flip construction) guarantee semantic dups to drop
    "q93_semantic_dedup" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val clones = emb.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, -x).otherwise(x)).as("embedding"))
      val corpus = emb.select(col("vec_id"), col("embedding")).union(clones)
      Similarity.semanticDedup(corpus, col("vec_id"),
          col("embedding"), minCosine = 0.85, nCells = 16)
        .orderBy(col("vec_id"))
    }),

    // training-data ops: trained quality classifier (the GPT-3/CCNet
    // quality-classifier shape): integer floor-log2 LLR over per-token
    // class counts learned from a labeled half of the corpus (content
    // -derived weak label); training = one token-keyed hash agg,
    // scoring = token-keyed model join + doc-keyed agg
    "q94_quality_classifier" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val labeled = d.filter(col("doc_id") % 2 === 0)
        .withColumn("lab", size(filter(Dedup.tokens(col("text")),
          t => t.isin("vector", "stream", "batch"))) >= 3)
      TextAnalysis.llrQualityScore(d, col("doc_id"), col("text"),
          labeled, col("text"), col("lab"))
        .orderBy(col("doc_id"))
    }),

    // training-data ops: distributed BPE merge training (Sennrich
    // 2016) — corpus collapses to a (word, count) vocabulary in ONE
    // hash agg, then each round is a pair-count agg + 1-row argmax;
    // symbol wrapping makes the merge a boundary-safe literal replace
    "q95_bpe_merges" -> ((s, dir) => {
      TextAnalysis.bpeTrainMerges(Tables.documents(s, dir),
          col("text"), nMerges = 6)
        .orderBy(col("round"))
    }),

    // training-data ops: apply the trained merge table and report
    // per-doc BPE token counts — tokenize once per distinct word (the
    // vocabulary collapse), map-only codegen'd replace fold
    "q96_bpe_encode" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val merges = TextAnalysis.bpeTrainMerges(d, col("text"), nMerges = 6)
        .orderBy(col("round")).collect()
        .map(r => r.getString(1) -> r.getString(2)).toSeq
      TextAnalysis.bpeEncodeCounts(d, col("doc_id"), col("text"), merges)
        .orderBy(col("doc_id"))
    }),

    // training-data ops: context-window chunking (40-token windows,
    // 5-token overlap) — one narrow explode + codegen'd slice, zero
    // shuffle: fuses into the scan at any corpus size
    "q97_chunk_documents" -> ((s, dir) => {
      TextAnalysis.chunkDocuments(Tables.documents(s, dir),
          col("doc_id"), col("text"), maxTokens = 40, overlap = 5)
        .orderBy(col("doc_id"), col("chunk_no"))
    }),

    // training-data ops: deterministic train/val/test assignment —
    // salted md5 bucket onto cumulative 1/256 boundaries, map-only;
    // a doc can never migrate splits when the corpus changes
    "q98_split_assign" -> ((s, dir) => {
      Sampling.assignSplit(
          Tables.documents(s, dir).select(col("doc_id"), col("source")),
          col("doc_id"),
          fractions = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy(col("doc_id"))
    }),

    // training-data ops: winnowing fingerprint sweep (MOSS) — window
    // minimum selection over char 8-gram hashes (ONE doc-keyed window
    // sort), then the family's inverted-index equi-join on the
    // fingerprint value
    "q99_winnowing" -> ((s, dir) => {
      Dedup.winnowingPairs(Tables.documents(s, dir), col("doc_id"),
          col("text"), k = 16, w = 8, minShared = 5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // training-data ops: engine-exact BM25 lexical retrieval — the
    // keyword sibling of the embedding ANN family: inverted-index
    // probe via a broadcast query-term join, integer Okapi weights
    // (k1=1.2, b=0.75 as exact rationals, floor-log2 idf),
    // TopKAggregator ranking (k rows per query per map task)
    "q100_bm25" -> ((s, dir) => {
      TextAnalysis.bm25TopK(Tables.documents(s, dir), col("doc_id"),
          col("text"), queries = Bm25Queries, k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // training-data ops: C4's published page-cleaning rules (Raffel
    // et al. 2020 §2.2) over a deterministic multi-line rebuild of
    // the corpus (8-token lines, punctuation/javascript/lorem/brace/
    // bad-word decorations keyed off doc_id so every rule fires)
    "q101_c4_filters" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ws"))
        .filter(size(col("ws")) >= 1)
      val linesArr = transform(
        sequence(lit(1), expr("(size(ws) + 7) DIV 8").cast("int")),
        i => {
          val base = array_join(slice(col("ws"), (i - lit(1)) * 8 + 1, lit(8)), " ")
          val deco = when((col("doc_id") + i) % 4 === 0, ".")
            .when((col("doc_id") + i) % 4 === 1, "!")
            .when((col("doc_id") + i) % 4 === 2, "?")
            .otherwise("")
          when((col("doc_id") * 7 + i) % 13 === 0,
            concat(base, lit(" javascript included today.")))
            .otherwise(concat(base, deco))
        })
      val t2 = concat(array_join(linesArr, "\n"),
        when(col("doc_id") % 37 === 0,
          lit("\nlorem ipsum dolor sit amet consectetur."))
          .otherwise(lit("")),
        when(col("doc_id") % 41 === 0,
          lit("\nconfig uses { braces } for scope here."))
          .otherwise(lit("")),
        when(col("doc_id") % 43 === 0,
          lit("\nsome heinous words lurk in here somewhere."))
          .otherwise(lit("")))
      TextAnalysis.c4Filters(d.select(col("doc_id"), t2.as("t2")),
          col("doc_id"), col("t2"), minLineWords = 5, minKeptLines = 3,
          badWords = Seq("heinous"))
        .orderBy(col("doc_id"))
    }),

    // training-data ops: DSIR importance weights (Xie et al. 2023) —
    // hashed-bigram (md5 -> 4096 buckets, engine-portable) likelihood
    // ratio of a target domain (source = src0) vs the raw corpus;
    // both models are fixed 4096-row aggregates, the lambda table a
    // guaranteed broadcast
    "q102_dsir" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextAnalysis.dsirWeights(d, col("doc_id"), col("text"),
          d.filter(col("source") === "src0"), col("text"))
        .orderBy(col("doc_id"))
    }),

    // training-data ops: exact heavy hitters via two-pass Misra-Gries
    // — a bounded 40-counter sketch prunes candidates (never shuffling
    // the vocabulary), then the <=k survivors are re-counted exactly;
    // the integer threshold cnt*(k+1) > N keeps terms above 1/41 of
    // the corpus mass (the 30 common vocabulary terms; 'dup' is below)
    "q103_heavy_hitters" -> ((s, dir) => {
      TextAnalysis.heavyTerms(Tables.documents(s, dir), col("text"),
          k = 40)
        .orderBy(col("term"))
    }),

    // training-data ops: deterministic exact-k per-stratum sample —
    // k smallest salted-md5 ranks per source, ranked by the TopK
    // aggregator (k rows per stratum per map task, no window shuffle)
    "q104_exactk_sample" -> ((s, dir) => {
      Sampling.exactKSample(Tables.documents(s, dir), col("doc_id"),
          col("source"), k = 10)
        .orderBy(col("stratum"), col("rank"))
    }),

    // training-data ops: content-defined chunking (the gear rolling
    // hash under FastCDC) — boundaries depend only on the trailing 32
    // chars, so the whole operator is map-only (zero shuffle) and
    // chunk boundaries re-align across shifted copies
    "q105_gear_chunks" -> ((s, dir) => {
      // fanOut: the interpreted HOF hash is CPU-bound per row, so a
      // one-row-group file must not run it as a single task
      Dedup.gearChunks(Tables.fanOut(Tables.documents(s, dir)),
          col("doc_id"), col("text"), maskBits = 6)
        .orderBy(col("doc_id"), col("chunk_no"))
    }),

    // training-data ops: cross-document duplicate chunks — a shared
    // boilerplate passage appended to every 7th doc lands at a
    // DIFFERENT offset in each, yet its interior chunks hash
    // identically (the shift-resistance fixed-stride q87 cannot have)
    "q106_gear_dedup" -> ((s, dir) => {
      val d = Tables.fanOut(Tables.documents(s, dir))
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" " + GearPassage)))
            .otherwise(col("text")).as("t2"))
      Dedup.gearDupChunks(d, col("doc_id"), col("t2"), maskBits = 6)
        .orderBy(col("chunk_md5"))
    }),

    // training-data ops: deterministic fill-in-the-middle planning
    // (Bavarian et al. 2022) — md5-gated 50% FIM rate, two md5 split
    // draws, PSM rearrangement; map-only, fuses into the scan
    "q107_fim_split" -> ((s, dir) => {
      TextAnalysis.fimSplit(Tables.documents(s, dir), col("doc_id"),
          col("text"), fimRate = 0.5)
        .orderBy(col("doc_id"))
    }),

    // training-data ops: T5 span-corruption planning (15% of tokens
    // in 3-token spans) — deterministic stride placement (one span
    // per stride at an md5 offset: non-overlapping by construction,
    // order-free), with the sentinel input/target renders as per-doc
    // Column folds
    "q108_span_corruption" -> ((s, dir) => {
      TextAnalysis.spanCorruptionPlan(Tables.documents(s, dir),
          col("doc_id"), col("text"))
        .orderBy(col("doc_id"), col("span_no"))
    }),

    // training-data ops: quality-aware near-dup survivor ("keep the
    // best copy, not the lowest id") — q53's clusters re-labeled by a
    // cluster-keyed max_by on (n_chars, -doc_id)
    "q109_keep_best" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(d, col("doc_id"), col("text"),
        n = 3, minJaccard = 0.5)
      val clusters = Dedup.nearDupClusters(pairs, col("doc_a"), col("doc_b"))
      Dedup.clusterKeepBest(clusters, d, col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // training-data ops: temperature-smoothed source mixture (XLM-R
    // α-sampling at the integer-exact α = 1/2 member) — derives the
    // weight table q88's mixturePlan consumes
    "q110_temperature_mix" -> ((s, dir) => {
      Sampling.temperatureWeights(Tables.documents(s, dir),
          col("source"), budget = 1000L)
        .orderBy(col("stratum"))
    }),

    // training-data ops: JL signed random projection — 64-d embeddings
    // compressed to 16 exact integer components (the hyperplane
    // family's weights with magnitudes kept), map-only
    "q111_random_projection" -> ((s, dir) => {
      Similarity.randomProjectRows(Tables.embeddings(s, dir),
          col("vec_id"), col("embedding"))
        .orderBy(col("vec_id"), col("p"))
    }),

    // training-data ops: incremental ingestion gate — every 7th doc
    // plays the incoming batch, the rest the already-deduped corpus;
    // exact-hash membership + ASYMMETRIC minhash band join (q17's
    // parameters; corpus never self-pairs)
    "q112_incremental_ingest" -> ((s, dir) => {
      Dedup.incrementalIngest(Tables.documents(s, dir), col("doc_id"),
          col("text"), col("doc_id") % 7 === 0, n = 3, numHashes = 16,
          bands = 8, minEstJaccard = 0.5)
        .orderBy(col("doc_id"))
    }),

    // training-data ops: product-quantization codes — 64 floats → 8
    // small ints per vector (Jégou 2011); exact integer sub-space L2
    "q113_pq_codes" -> ((s, dir) => {
      Similarity.pqCodes(Tables.embeddings(s, dir), col("vec_id"),
          col("embedding"))
        .orderBy(col("vec_id"), col("m"))
    }),

    // training-data ops: PQ asymmetric-distance search — the ranking
    // scan reads ONLY the 8-byte codes; query keeps exact sub-vectors
    "q114_pq_adc_topk" -> ((s, dir) => {
      Similarity.pqAdcTopK(Tables.embeddings(s, dir), col("vec_id"),
          col("embedding"), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // training-data ops: Broder containment — catches docs CONTAINED
    // in larger ones (jaccard-blind: wrapped articles, quote pages);
    // threshold below q16's jaccard bar on purpose
    "q115_containment" -> ((s, dir) => {
      Dedup.containmentPairs(Tables.documents(s, dir), col("doc_id"),
          col("text"), n = 3, minContainment = 0.6)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // training-data ops: exact histogram quantiles of token lengths
    // per source — the context-length-planning statistic, bounded by
    // |distinct lengths| rather than corpus size
    "q116_length_quantiles" -> ((s, dir) => {
      TextAnalysis.lengthQuantiles(Tables.documents(s, dir),
          col("source"), col("text"))
        .orderBy(col("stratum"))
    }),

    // training-data ops: cross-split leakage audit — near-dup pairs
    // (q17's parameters) straddling q98's train/val/test assignment
    "q117_split_leakage" -> ((s, dir) => {
      Sampling.splitLeakage(Tables.documents(s, dir), col("doc_id"),
          col("text"), fractions = Seq("train" -> 0.8, "val" -> 0.1,
            "test" -> 0.1), n = 3, numHashes = 16, bands = 8,
          minEstJaccard = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // training-data ops: encoding-damage gate (ftfy-style) — U+FFFD,
    // mojibake digraphs, stray C0 controls; damage is injected
    // deterministically so the detector has something to catch
    "q118_encoding_quality" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("t2",
          when(col("doc_id") % 13 === 0, concat(lit("Ã©"), col("text")))
            .when(col("doc_id") % 13 === 1, concat(col("text"), lit("�")))
            .otherwise(col("text")))
      TextAnalysis.encodingQuality(d, col("doc_id"), col("t2"))
        .orderBy(col("doc_id"))
    }),

    // training-data ops: n-gram novelty vs a reference snapshot —
    // every 10th doc plays the reference; continuous memorization /
    // staleness score per probe doc
    "q119_ngram_novelty" -> ((s, dir) => {
      TextAnalysis.ngramNovelty(Tables.documents(s, dir), col("doc_id"),
          col("text"), col("doc_id") % 10 === 0)
        .orderBy(col("doc_id"))
    }),

    // training-data ops: template dedup — entity-differing generated
    // twins (injected for every 11th doc: same page, different order
    // number + email) collapse onto one masked hash
    "q120_template_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      def twin(offset: Long, prefix: String) =
        d.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + offset).as("doc_id"),
            concat(lit(prefix), col("text")).as("text"))
      val all = d.union(twin(100000L, "order 12345 from user a@b.com: "))
        .union(twin(200000L, "order 99999 from user c@d.org: "))
      Dedup.templateDedup(all, col("doc_id"), col("text"))
        .orderBy(col("template_hash"))
    }),

    // training-data ops: per-source data card (Datasheets practice) —
    // volume, token mass, quality/PII/dup rates as integer permille
    "q121_data_card" -> ((s, dir) => {
      pipelines.CorpusPipeline.dataCard(Tables.documents(s, dir),
          col("doc_id"), col("source"), col("text"))
        .orderBy(col("stratum"))
    }),

    // training-data ops: per-label embedding centroid dispersion —
    // the drift monitor (floored-mean centroid + shifted integer
    // mean member-to-centroid cosine)
    "q122_group_dispersion" -> ((s, dir) => {
      Similarity.groupDispersion(Tables.embeddings(s, dir),
          col("vec_id"), col("embedding"), col("label"))
        .orderBy(col("grp"))
    }),

    // training-data ops: ANN evaluation as a query — recall@5 of the
    // PQ-ADC scan against the exact brute-force ranking
    "q123_pq_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qIds = Seq(0L, 1L, 2L, 3L, 4L)
      Similarity.recallAtK(
          Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"),
            qIds, k = 5),
          Similarity.pqAdcTopK(emb, col("vec_id"), col("embedding"),
            qIds, k = 5))
        .orderBy(col("query_id"))
    }),

    // training-data ops: length-bucketed batching plan — power-of-two
    // buckets with the padding-waste ledger in integer permille
    "q124_length_buckets" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), size(operators.Dedup.tokens(col("text")))
          .cast("long").as("n_tokens"))
      Sampling.lengthBucketPlan(toks, col("doc_id"), col("n_tokens"))
        .orderBy(col("bucket"))
    }),

    // training-data ops: cross-source duplication matrix — which
    // sources copy from which (q17's near-dup pairs cell-counted by
    // their members' unordered source pair)
    "q125_source_matrix" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val pairs = Dedup.minhashLshPairs(d, col("doc_id"), col("text"),
        n = 3, numHashes = 16, bands = 8, minEstJaccard = 0.5)
      Dedup.sourcePairMatrix(pairs, d, col("doc_id"), col("source"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // training-data ops: curation funnel — per-stage doc/token
    // attrition (encoding -> quality -> exact dedup -> greedy near)
    "q126_curation_funnel" -> ((s, dir) => {
      pipelines.CorpusPipeline.curationFunnel(Tables.documents(s, dir),
          col("doc_id"), col("text"))
        .orderBy(col("stage"))
    }),

    // training-data ops: chunk-level duplicate REMOVAL (the rewrite
    // half of the CDC family): every duplicated gear chunk keeps its
    // global first occurrence, later occurrences are cut; q106's
    // shared-passage decoration guarantees cross-doc dup chunks
    "q138_chunk_rewrite" -> ((s, dir) => {
      val d = Tables.fanOut(Tables.documents(s, dir))
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" " + GearPassage)))
            .otherwise(col("text")).as("t2"))
      Dedup.chunkDedupRewrite(d, col("doc_id"), col("t2"), maskBits = 6)
        .orderBy(col("doc_id"))
    }),

    // training-data ops: q138's chunk-level rewrite through the
    // 100 TB patch-set path — only (doc_id, chunk_no, chunk hash)
    // shuffle, text is rebuilt map-side by re-running the gear kernel
    // in the apply scan; same decorated input and same oracle as
    // q138, so the two paths are oracle-proven equal
    "q139_chunk_patches" -> ((s, dir) => {
      val d = Tables.fanOut(Tables.documents(s, dir))
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" " + GearPassage)))
            .otherwise(col("text")).as("t2"))
      Dedup.chunkRewriteViaPatches(d, col("doc_id"), col("t2"),
          maskBits = 6)
        .orderBy(col("doc_id"))
    }),

    // scale ops: the skew-salting join on its real target — the
    // skewed event stream enriched with a per-key dimension too big
    // to assume broadcastable. Salting never changes the pairs (the
    // oracle IS the plain equi-join); it bounds the worst reducer by
    // construction — SkewSpec pins the ~salts-fold spread
    "q140_salted_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val dim = e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("type_n"),
          min(col("event_id")).as("first_event"))
      operators.Skew.saltedJoin(
          e.select(col("event_id"), col("event_type")), dim,
          Seq("event_type"), salts = 8)
        .orderBy(col("event_id"))
    }),

    // training-data ops: the composed corpus REWRITE — boilerplate
    // line removal then chunk-level dedup, BOTH through their
    // decisions-only patch-set paths (the scale-safe default for the
    // composed pipelines); the oracle chains q91's line CTEs into
    // q138's gear CTEs, so the whole two-stage rewrite is hash-proven
    "q142_corpus_rewrite" -> ((s, dir) => {
      val d = Tables.fanOut(Tables.documents(s, dir))
        .select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 4 === 0,
              lit("\nsubscribe to our newsletter today"))
              .when(col("doc_id") % 4 === 1,
                lit("\nall rights reserved worldwide"))
              .when(col("doc_id") % 4 === 2, lit("\nok"))
              .otherwise(lit("")),
            when(col("doc_id") % 7 === 0, lit(" " + GearPassage))
              .otherwise(lit(""))).as("t2"))
      pipelines.CorpusPipeline.rewriteCorpus(d, col("doc_id"),
          col("t2"), maxLineFreq = 5, minLineChars = 5, maskBits = 6)
        .orderBy(col("doc_id"))
    }),

    // §2.6 AlertSuppressorCount (batch form): count-aware suppression
    // over per-(user, 10-min window) event counts — a count that
    // DIFFERS from the last-emitted one re-emits even inside the
    // expiry window (reference emit-on-change, decreases included);
    // the q27 recursive-CTE oracle pattern with the last-emitted
    // count threaded through the recursion
    "q141_suppress_count" -> ((s, dir) => {
      val wc = Tables.events(s, dir)
        .withColumn("wus",
          expr("unix_micros(ts) DIV 600000000 * 600000000"))
        .groupBy(col("user_id"), col("wus"))
        .agg(count(lit(1)).as("n"))
      operators.Stateful.suppressCount(wc,
          timestamp_micros(col("wus")), col("user_id"), col("n"),
          expirySeconds = 1800)
        .select(col("key").cast("long").as("user_id"),
          expr("ts_us DIV 1000").as("ts_ms"), col("count").as("n"))
        .orderBy(col("user_id"), col("ts_ms"))
    }),

    // §2.6 the AlertSuppressorCount PIPELINE GATE composed end to end
    // (ref EndpointAbuseAnalysis.java:277: session-window abuse
    // alerts → GlobalTriggers → AlertSuppressorCount): q78's session
    // alerts gated per client address on (latest monitored request,
    // count) — a repeat alert re-emits iff strictly past the expiry
    // OR the count changed, with the full alert row riding a
    // triple-keyed join back around the 3-column state scan
    "q143_endpoint_abuse_suppressed" -> ((s, dir) => {
      import operators.{HttpHeuristics, Stateful}
      val e = Tables.events(s, dir)
        .filter(col("event_type").isin("view", "purchase") ||
          (col("event_type") === "click" && col("user_id") % 7 === 0))
        .withColumn("addr", concat(lit("10.4.0."), col("user_id") % 5))
        .withColumn("method",
          when(col("event_type") === "purchase", "POST").otherwise("GET"))
        .withColumn("path", concat(lit("/e/"), col("event_type")))
        .withColumn("ua", concat(lit("ua-"), col("user_id") % 5))
      val abuse = HttpHeuristics.endpointAbuseSessions(e, col("ts"),
        col("addr"), col("method"), col("path"), col("ua"),
        gapSeconds = 3600,
        Seq(HttpHeuristics.Endpoint("GET", "/e/view", 2),
          HttpHeuristics.Endpoint("POST", "/e/purchase", 2)))
      Stateful.suppressCountGate(abuse,
          timestamp_millis(col("latest_ts_ms")), col("addr"), col("n"),
          expirySeconds = 7200)
        .orderBy(col("addr"), col("session_id"))
    }),

    // §2.6 the AlertSuppressorSession PIPELINE GATE composed end to
    // end (ref CritObjectAnalyze.java:222-224 builds the
    // user_object_sourceaddress suppression key; AuthProfile.java:1053
    // applies AlertSuppressorSession(1800L)): critical-object alerts
    // gated per key — a steady drip of the same (user, object, source)
    // alerts emits once and stays quiet until a strictly-larger-than-
    // gap silence, because suppressed alerts EXTEND the quiet period
    // (state rewrites on every element, AlertSuppressorSession.java:
    // 69-113)
    "q144_crit_object_suppressed" -> ((s, dir) => {
      import operators.{AuthState, Stateful}
      val e = Tables.events(s, dir)
        .withColumn("user", concat(lit("u"), col("user_id") % 20))
        .withColumn("obj",
          when(col("event_type") === "error", lit("/etc/shadow"))
            .when(col("event_type") === "purchase",
              concat(lit("secrets/key"), col("user_id") % 3))
            .otherwise(concat(lit("public/"), col("event_type"))))
        .withColumn("src", concat(lit("10.9.0."), col("user_id") % 4))
      val alerts = AuthState.critObjectAnalyze(e, col("ts"),
        col("user"), col("obj"), col("src"),
        Seq("/etc/.*", "secrets/.*"),
        critNotifyEmail = Some("secops@example.com"))
      Stateful.suppressSessionGate(alerts.distinct(),
          timestamp_millis(col("ts_ms")), col("suppression_key"),
          gapSeconds = 1800)
        .orderBy(col("suppression_key"), col("ts_ms"))
    }),

    // training-data ops: deterministic multi-epoch shuffle plan —
    // per-epoch salted-md5 reshuffle into 16 shards with 1-based
    // positions and running token offsets; one exchange + one
    // in-partition sort per (epoch, shard), text never enters the
    // plan, no RNG state
    "q145_epoch_shuffle" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        size(Dedup.tokens(col("text"))).cast("long").as("nt"))
      Sampling.epochShuffle(d, col("doc_id"), col("nt"),
          epochs = 3, nShards = 16)
        .orderBy(col("epoch"), col("shard"), col("pos"))
    }),

    // training-data ops: stride-scheduled mixture interleave — every
    // prefix of a shard's stream carries sources at their target ppm
    // weights (virtual time = rank * 1e6 DIV ppm, pure integers);
    // the deterministic alternative to per-batch mixture sampling
    "q146_mixture_interleave" -> ((s, dir) => {
      Sampling.mixtureInterleave(
          Tables.documents(s, dir).select(col("doc_id"), col("source")),
          col("doc_id"), col("source"),
          weightsPpm = Map("src0" -> 600000L, "src1" -> 100000L),
          defaultPpm = 50000L, nShards = 4)
        .orderBy(col("shard"), col("pos"))
    }),

    // training-data ops: unicode-equivalence dedup — composed vs
    // decomposed twins (injected per 13th doc: same visible text,
    // U+00E9 vs e+U+0301) byte-differ yet NFC-collapse onto one hash
    // that byte-exact dedup can never see
    "q147_unicode_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      def twin(offset: Long, prefix: String) =
        d.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + offset).as("doc_id"),
            concat(lit(prefix), col("text")).as("text"))
      // twin A composed (U+00E9/U+00EF), twin B decomposed
      // (base letter + U+0301/U+0308) — byte-distinct, NFC-equal
      val all = d
        .union(twin(300000L,
          "caf\u00e9 r\u00e9sum\u00e9 na\u00efve: "))
        .union(twin(400000L,
          "cafe\u0301 re\u0301sume\u0301 nai\u0308ve: "))
      Dedup.unicodeDedup(all, col("doc_id"), col("text"))
        .orderBy(col("norm_hash"))
    }),

    // training-data ops: grid-bucketed quantiles over a
    // high-cardinality value (per-label quantized embedding norms) —
    // bounded-state quantiles with an exact bucket-width error bound,
    // pure integer arithmetic end to end
    "q148_norm_grid_quantiles" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = Similarity.quantize(col("embedding"))
      val n = emb.select(col("label").as("stratum"),
        Similarity.dotQ(q, q).as("norm2"))
      TextAnalysis.gridQuantiles(n, col("stratum"), col("norm2"),
          buckets = 256)
        .orderBy(col("stratum"))
    }),

    // training-data ops: reciprocal-rank fusion of three integer
    // quality signals (token count, lexical-diversity permille,
    // stopword permille) — exact competition ranks WITHOUT a
    // single-partition global window (grid-bucketed distributed rank)
    "q149_rank_fusion" -> ((s, dir) => {
      val sig = Tables.documents(s, dir)
        .select(col("doc_id"), Dedup.tokens(col("text")).as("ws"))
        .select(col("doc_id"),
          size(col("ws")).cast("long").as("n_tokens"),
          size(array_distinct(col("ws"))).cast("long").as("n_types"),
          size(filter(col("ws"), t => array_contains(
            typedLit(TextAnalysis.Stopwords), t))).cast("long").as("n_stop"))
        .select(col("doc_id"), col("n_tokens"),
          expr("n_types * 1000 DIV greatest(n_tokens, 1)").as("lex_permille"),
          expr("n_stop * 1000 DIV greatest(n_tokens, 1)").as("stop_permille"))
      TextAnalysis.rankFusion(sig, col("doc_id"), Seq(
          "tokens" -> col("n_tokens"),
          "lex" -> col("lex_permille"),
          "stop" -> col("stop_permille")))
        .orderBy(col("doc_id"))
    }),

    // training-data ops: greedy k-center (farthest-point) coreset
    // selection — m diversity-maximizing representatives; exact
    // integer squared-L2 argmax per round, corpus never shuffles
    "q150_kcenter_coreset" -> ((s, dir) => {
      Similarity.kCenterSelect(Tables.embeddings(s, dir), col("vec_id"),
          col("embedding"), m = 6)
        .orderBy(col("sel_round"))
    }),

    // training-data ops: banned-term screen — one Aho-Corasick pass
    // per document for the whole blocklist (words, phrases, and a
    // needle-inside-needle pair: every "window" hit is a "dow" hit)
    "q151_banned_terms" -> ((s, dir) => {
      TextAnalysis.bannedTermScreen(Tables.documents(s, dir),
          col("doc_id"), col("text"),
          Seq("slow scan", "big query", "dup", "window", "dow",
            "merge batch"))
        .orderBy(col("doc_id"))
    }),

    // training-data ops: composed curation scorecard — the round's new
    // gates in one decision view with a fixed precedence: banned-term
    // screen > unicode-canonical duplicate > bottom-half-in-every-
    // signal rank fusion > keep; the quality bar is scale-free
    // (rank·2 > corpus size), so the same query reads at any sf
    "q152_curation_scorecard" -> ((s, dir) => {
      // corpus + NFC twins (the q147 injection): composed twin at
      // +300000 is canonical, its decomposed sibling at +400000 is the
      // duplicate copy the NFC hash catches
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      def twin(offset: Long, prefix: String) =
        base.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + offset).as("doc_id"),
            concat(lit(prefix), col("text")).as("text"))
      val d = base
        .union(twin(300000L, "caf\u00e9 preface: "))
        .union(twin(400000L, "cafe\u0301 preface: "))
      val banned = TextAnalysis.bannedTermScreen(d, col("doc_id"),
          col("text"),
          Seq("slow scan", "big query", "merge batch"))
        .select(col("doc_id"), col("flagged").as("is_banned"))
      val sig = d
        .select(col("doc_id"), Dedup.tokens(col("text")).as("ws"))
        .select(col("doc_id"),
          size(col("ws")).cast("long").as("n_tokens"),
          size(array_distinct(col("ws"))).cast("long").as("n_types"),
          size(filter(col("ws"), t => array_contains(
            typedLit(TextAnalysis.Stopwords), t))).cast("long").as("n_stop"))
        .select(col("doc_id"), col("n_tokens"),
          expr("n_types * 1000 DIV greatest(n_tokens, 1)").as("lex_permille"),
          expr("n_stop * 1000 DIV greatest(n_tokens, 1)").as("stop_permille"))
      val fused = TextAnalysis.rankFusion(sig, col("doc_id"), Seq(
        "tokens" -> col("n_tokens"),
        "lex" -> col("lex_permille"),
        "stop" -> col("stop_permille")))
      val nrm = d.select(col("doc_id"),
        md5(graft.functions.Functions.unicodeNormalize(col("text")))
          .as("ch"))
      val dup = nrm.join(
          nrm.groupBy(col("ch")).agg(min(col("doc_id")).as("first_id")),
          Seq("ch"))
        .select(col("doc_id"),
          (col("doc_id") > col("first_id")).as("is_dup_copy"))
      banned.join(dup, Seq("doc_id")).join(fused, Seq("doc_id"))
        .join(broadcast(d.agg(count(lit(1)).as("n_docs"))))
        .select(col("doc_id"), col("is_banned"), col("is_dup_copy"),
          col("rrf_score"),
          when(col("is_banned"), lit("banned"))
            .when(col("is_dup_copy"), lit("duplicate"))
            .when(col("rank_tokens") * 2 > col("n_docs") &&
              col("rank_lex") * 2 > col("n_docs") &&
              col("rank_stop") * 2 > col("n_docs"), lit("low_quality"))
            .otherwise(lit("keep")).as("decision"))
        .orderBy(col("doc_id"))
    }),

    // training-data ops: HTML-to-text cleaning — every 7th doc arrives
    // wrapped in markup (attributes, a comment, a script payload whose
    // string contains a tag, entity-encoded text); the strip must
    // recover the prose and decode entities in the right order
    "q153_html_strip" -> ((s, dir) => {
      val wrapped = when(col("doc_id") % 7 === 0,
        concat(lit("<html><body class=\"x\"><p id='m'>"), col("text"),
          lit(" &amp; more &amp;lt;kept&amp;gt;</p><!-- footer -->" +
            "<script>var x = \"<p>\";</script></body></html>")))
        .otherwise(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"), wrapped.as("raw"))
        .select(col("doc_id"),
          TextAnalysis.stripHtml(col("raw")).as("clean_text"),
          (col("raw") =!= TextAnalysis.stripHtml(col("raw")))
            .as("was_dirty"))
        .orderBy(col("doc_id"))
    }),

    // §2.3 engine-portable distinct sketch: KMV k-minimum-values —
    // the oracled sibling of q40's approx_count_distinct (HLL register
    // layouts are engine-specific; the k smallest md5 values are a
    // pure function of the set, estimate included)
    "q154_kmv_distinct" -> ((s, dir) => {
      Heuristics.kmvDistinct(Tables.events(s, dir), col("event_type"),
          col("user_id"), k = 24)
        .withColumnRenamed("key", "event_type")
        .orderBy(col("event_type"))
    }),

    // training-data ops: blocklist calibration — corpus hit counts per
    // banned term INCLUDING the zero-hit dead weight ('zyzzyva' never
    // fires; an explode-and-count would silently drop it)
    "q155_blocklist_stats" -> ((s, dir) => {
      TextAnalysis.bannedTermStats(Tables.documents(s, dir), col("text"),
          Seq("slow scan", "big query", "dup", "window", "dow",
            "merge batch", "zyzzyva"))
        .orderBy(col("ordinal"))
    }),

    // training-data ops: systematic PPS sampling — k docs drawn
    // proportional to token count by the classical fixed-stride walk
    // (Madow 1949); heavy docs legitimately land multiple thresholds
    // (n_copies), sum of n_copies == k, all-integer and engine-exact
    "q156_systematic_pps" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        size(Dedup.tokens(col("text"))).cast("long").as("wt0"))
      Sampling.systematicPps(d, col("doc_id"), col("wt0"), k = 40)
        .orderBy(col("doc_id"))
    }),

    // training-data ops: the FULL ingest gate stack as ONE composed
    // selection — markup strip (q153's injection) -> Aho-Corasick
    // blocklist -> NFC-canonical exact dedup (q147/q152's twin
    // injection) -> quality gate -> systematic PPS draw over the
    // survivors. The q152 scorecard pattern extended to SELECTION:
    // what lands in the training mix after every r12 gate has run.
    // Scale shape: three map-only projections fused into the scan
    // (strip, automaton, NFC+md5), one 32-byte-hash aggregate, the
    // survivor join (the one exchange text may cross — zero when AQE
    // broadcasts the narrow hash/canonical side, as it does at bench
    // scale), then the PPS grid prefix-sum's two narrow exchanges —
    // the rewriteCorpus discipline: text crosses at most ONE exchange
    // §2.3 sketch algebra: KMV set-overlap — pairwise audience
    // union/intersection/Jaccard estimates between event classes from
    // ONE bounded sketch pass (the q154 machinery generalized to set
    // operations; exact distinct-intersection would be a corpus
    // self-join). Engine-exact: every estimate is a pure function of
    // the k-min sketches, which DuckDB reproduces bit-for-bit
    "q158_kmv_overlap" -> ((s, dir) => {
      Heuristics.kmvOverlap(Tables.events(s, dir), col("event_type"),
          col("user_id"), k = 24)
        .withColumnRenamed("key_a", "type_a")
        .withColumnRenamed("key_b", "type_b")
        .orderBy(col("type_a"), col("type_b"))
    }),

    // training-data ops: deterministic per-stratum uniform k-sample —
    // the exact-k eval-set draw (k smallest id-hashes per source) via
    // the bounded k-min aggregator instead of a per-stratum window
    // rank (which would sort each full stratum in one reducer task)
    "q159_hash_reservoir" -> ((s, dir) => {
      Sampling.hashReservoir(Tables.documents(s, dir), col("source"),
          col("doc_id"), k = 20)
        .withColumnRenamed("stratum", "source")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("source"), col("rank"))
    }),

    // training-data ops: language identification as a first-class
    // operator (not q134's codepoint-range proxy) — the classic
    // char-trigram rank-profile classifier (Cavnar–Trenkle 1994)
    // trained on the labeled 30% seed (doc_id % 10 < 3), applied to
    // the whole corpus, reported as the per-language confusion
    // data-card (label × prediction, doc counts + summed out-of-place
    // distance). All-integer rank arithmetic, so DuckDB mirrors every
    // cell bit-for-bit — the engine-portable contract the float
    // log-likelihood formulation could not give
    "q160_lang_id" -> ((s, dir) => {
      // fanOut: the trigram explode + (doc, gram) partial aggregate is
      // the CPU-bound map side and would otherwise run in the scan's
      // 1-2 local[32] partitions (a no-op at cluster scale)
      val d = Tables.fanOut(Tables.documents(s, dir))
      val profiles = TextAnalysis.langIdProfiles(
        d.filter(col("doc_id") % 10 < 3), col("lang"), col("text"),
        m = 64)
      TextAnalysis.langId(d, col("doc_id"), col("text"), profiles,
          penalty = 64, d = 32)
        .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("dist")).as("total_dist"))
        .orderBy(col("lang"), col("pred_lang"))
    }),

    // training-data ops: the per-LANGUAGE data card — q160's
    // classifier driving q121's release report, the mixture-design
    // view a multilingual corpus build publishes (volume, token mass,
    // quality pass rate, PII incidence, dup rate BY PREDICTED
    // LANGUAGE — predicted, not labeled, because the label is exactly
    // what a scraped corpus does not have). Pure composition: langId
    // joined as the dataCard stratum, unclassifiable docs excluded
    "q161_lang_data_card" -> ((s, dir) => {
      val d = Tables.fanOut(Tables.documents(s, dir))
      val profiles = TextAnalysis.langIdProfiles(
        d.filter(col("doc_id") % 10 < 3), col("lang"), col("text"),
        m = 64)
      val pred = TextAnalysis.langId(d, col("doc_id"), col("text"),
        profiles, penalty = 64, d = 32)
      // dataCardBy, not a pre-join: the card's signal frames would
      // each re-evaluate a classifier joined into their input (57 s
      // vs ~35 s at the 100x probe) — the stratum frame joins once
      pipelines.CorpusPipeline.dataCardBy(d, col("doc_id"), col("text"),
          pred.select(col("doc_id"), col("pred_lang").as("stratum")))
        .orderBy(col("stratum"))
    }),

    // training-data ops: per-LANGUAGE quality-threshold calibration —
    // where should the stop-word gate sit for THIS language? q135's
    // calibration view re-keyed by q160's classifier (a scraped
    // multilingual corpus calibrates per predicted language, not per
    // source): stop-word-permille quantiles per predicted language
    // via the shared integer-histogram quantile kernel. The classifier
    // frame joins ONCE (a single consumer — the dataCardBy lesson)
    "q163_lang_quality_calibration" -> ((s, dir) => {
      val d = Tables.fanOut(Tables.documents(s, dir))
      val profiles = TextAnalysis.langIdProfiles(
        d.filter(col("doc_id") % 10 < 3), col("lang"), col("text"),
        m = 64)
      val pred = TextAnalysis.langId(d, col("doc_id"), col("text"),
        profiles, penalty = 64, d = 32)
      val q = TextAnalysis.qualityScore(d, col("doc_id"), col("text"))
        .filter(col("n_tokens") >= 1)
        .join(pred.select(col("doc_id"), col("pred_lang")), Seq("doc_id"))
      TextAnalysis.integerQuantiles(q, col("pred_lang"),
          expr("n_stop * 1000 DIV n_tokens"))
        .orderBy(col("stratum"))
    }),

    // training-data ops: windowed language-mix — the batch twin of
    // Streaming.langIdStream (the ingestion-drift monitor: is the
    // crawl's language mix moving window over window?). Documents
    // carry no event time, so arrival time is synthesized from doc_id
    // (one doc per minute — the q43 synthesized-column pattern);
    // 10-minute windows in integer epoch math
    "q162_lang_mix_windows" -> ((s, dir) => {
      val d = Tables.fanOut(Tables.documents(s, dir))
      val profiles = TextAnalysis.langIdProfiles(
        d.filter(col("doc_id") % 10 < 3), col("lang"), col("text"),
        m = 64)
      TextAnalysis.langId(d, col("doc_id"), col("text"), profiles,
          penalty = 64, d = 32)
        .select(col("doc_id"), col("pred_lang"))
        .withColumn("window_start_ms",
          expr("(1700000000 + doc_id * 60) DIV 600 * 600 * 1000"))
        .groupBy(col("window_start_ms"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("window_start_ms"), col("pred_lang"))
    }),

    // training-data ops: language-mix DRIFT alert — the monitor on
    // top of q162's windowed mix (streaming twin:
    // Streaming.langMixDriftStream, parity-pinned on the SAME
    // langMixDrift body): each window's per-language count against
    // its immediate predecessor, truncated integer percent shift,
    // warn/critical tiers — the reference's AlertSummary pane
    // comparison (q71) re-keyed by predicted language. Thresholds sit
    // where the synthesized arrival stream genuinely drifts at both
    // gate scales (warn > 30%, critical > 60%, volume floor 3 on the
    // larger half)
    "q164_lang_mix_drift" -> ((s, dir) => {
      val d = Tables.fanOut(Tables.documents(s, dir))
      val profiles = TextAnalysis.langIdProfiles(
        d.filter(col("doc_id") % 10 < 3), col("lang"), col("text"),
        m = 64)
      val counts = TextAnalysis.langId(d, col("doc_id"), col("text"),
          profiles, penalty = 64, d = 32)
        .select(col("doc_id"), col("pred_lang"))
        .withColumn("window_start_ms",
          expr("(1700000000 + doc_id * 60) DIV 600 * 600 * 1000"))
        .groupBy(col("window_start_ms"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
      TextAnalysis.langMixDrift(counts, windowMs = 600000L,
          warnPct = 30, critPct = 60, minCount = 3)
        .orderBy(col("window_start_ms"), col("pred_lang"))
    }),

    // training-data ops: the multilingual corpus-build COMPOSITION —
    // the loop q161/q163 opened, closed: classify (q160), calibrate a
    // per-language quality floor (q163's stop-permille p25 per
    // PREDICTED language), gate each doc against ITS OWN language's
    // floor, and hand the survivors to q88's mixture planner keyed by
    // predicted language — budget allocation per language with
    // per-language quality gates, the mixture-design decision a
    // multilingual build actually publishes. Two corpus passes by
    // construction (calibrate, then select); the floor frame (|langs|
    // rows) is collected eagerly so Catalyst never re-evaluates the
    // calibration subplan per consumer (the budgetSelect discipline)
    "q165_multilingual_mixture" -> ((s, dir) => {
      val d = Tables.fanOut(Tables.documents(s, dir))
      val profiles = TextAnalysis.langIdProfiles(
        d.filter(col("doc_id") % 10 < 3), col("lang"), col("text"),
        m = 64)
      // cached: the floor pass (eager collect below) and the survivor
      // pass are two ACTIONS over this frame, and Catalyst does not
      // dedupe common subplans across actions — uncached, each one
      // re-ran the classifier (measured 3.46 -> 2.45 s at sf0.1; the
      // same lesson multilingualBuild applies pipeline-wide)
      val classified = TextAnalysis.qualityScore(d, col("doc_id"),
          col("text"))
        .filter(col("n_tokens") >= 1)
        .join(TextAnalysis.langId(d, col("doc_id"), col("text"),
            profiles, penalty = 64, d = 32)
          .select(col("doc_id"), col("pred_lang")), Seq("doc_id"))
        .select(col("doc_id"), col("pred_lang"), col("n_chars"),
          expr("n_stop * 1000 DIV n_tokens").as("stop_permille"))
        .cache()
      val floorRows = TextAnalysis.integerQuantiles(classified,
          col("pred_lang"), col("stop_permille"), qs = Seq(25))
        .select(col("stratum").cast("string"), col("p25").cast("long"))
        .collect()
      val floors = broadcast(s.createDataFrame(
        java.util.Arrays.asList(floorRows: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("pred_lang",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("p25",
            org.apache.spark.sql.types.LongType)))))
      val survivors = classified.join(floors, Seq("pred_lang"))
        .filter(col("stop_permille") >= col("p25"))
      val mix = Sampling.mixturePlan(survivors, col("pred_lang"),
          col("n_chars"),
          weights = Map("en" -> 0.35, "de" -> 0.15, "es" -> 0.15,
            "fr" -> 0.15, "zh" -> 0.10),
          defaultWeight = 0.05, budget = 100000L)
        .orderBy(col("stratum"))
      // the mixture plan is |langs| rows — materialize it eagerly and
      // RELEASE the cached lineage (r16 advisory: a lazy return would
      // strand the cache in the session's block manager for its
      // lifetime; the budgetSelect discipline, applied to the
      // query's own result)
      val mixRows = mix.collect()
      classified.unpersist(blocking = true)
      s.createDataFrame(java.util.Arrays.asList(mixRows: _*), mix.schema)
    }),

    // scale ops: the key-skew card — the decide-to-salt diagnostic
    // (how concentrated is per-key load? hot_fold_x1000 reads
    // directly as a salting factor). One partial-agg shuffle, then
    // bounded reductions of the |keys|-row counts frame — the
    // measurement HALF of the skew axis (tools/skew_probe.sh measures
    // the engine under the regime; this query detects the regime)
    "q166_key_skew_card" -> ((s, dir) =>
      operators.Skew.keySkewCard(Tables.events(s, dir),
        col("user_id"))),

    // training-data ops: tokenizer equity — BPE fertility per
    // PREDICTED language (q136's fertility re-keyed by q160's
    // classifier: a multilingual tokenizer review asks "how many
    // tokens does a word cost in each language?", and a scraped
    // corpus has no labels, so the stratum is the prediction). The
    // classifier frame joins ONCE into the per-doc token costs (the
    // dataCardBy lesson); both trainings are independent consumers of
    // the raw table
    "q167_lang_fertility" -> ((s, dir) => {
      val d = Tables.fanOut(Tables.documents(s, dir))
      val profiles = TextAnalysis.langIdProfiles(
        d.filter(col("doc_id") % 10 < 3), col("lang"), col("text"),
        m = 64)
      val preds = TextAnalysis.langId(d, col("doc_id"), col("text"),
          profiles, penalty = 64, d = 32)
        .select(col("doc_id"), col("pred_lang"))
      val merges = TextAnalysis.bpeTrainMerges(d, col("text"),
          nMerges = 6)
        .orderBy(col("round")).collect()
        .map(r => r.getString(1) -> r.getString(2)).toSeq
      TextAnalysis.bpeEncodeCounts(d, col("doc_id"), col("text"),
          merges)
        .join(preds, Seq("doc_id"))
        .groupBy(col("pred_lang").as("stratum"))
        .agg(sum(col("n_words")).as("n_words"),
          sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
        .select(col("stratum"), col("n_words"), col("n_bpe_tokens"),
          expr("n_bpe_tokens * 1000 DIV n_words")
            .as("fertility_permille"))
        .orderBy(col("stratum"))
    }),

    // scale ops: the per-WINDOW skew card — q166 per time slice (is
    // some window in the hot-key regime even when the global card
    // reads balanced? a NAT flood is a transient) and the oracled
    // batch twin of Streaming.keySkewStream, the in-flight form.
    // Integer day-window math (epoch-aligned, the q02 window parity)
    "q168_key_skew_windows" -> ((s, dir) =>
      operators.Skew.keySkewCardBy(
          Tables.events(s, dir).select(
            expr("(unix_millis(ts) DIV 86400000) * 86400000")
              .as("window_start_ms"), col("user_id")),
          col("window_start_ms"), col("user_id"))
        .withColumnRenamed("stratum", "window_start_ms")
        .orderBy(col("window_start_ms"))),

    // scale ops: q14's session-limit gate on the SHARDED path (the
    // probe's worst straggler, 2.9x at the 50pct hot key) — same
    // rows, oracle IS q14's (path-equality twin)
    "q171_session_limit_sharded" -> ((s, dir) =>
      Sessionize.sessionLimitSharded(Tables.events(s, dir), col("ts"),
          col("user_id"), gapSeconds = 3600, maxSessionEvents = 3)
        .withColumnRenamed("key", "user_id")
        .orderBy(col("user_id"))),

    // scale ops: the hot-key LIST — q166's actionable complement
    // (the card detects the regime; this names the keys an operator
    // acts on: NAT exemptions, quarantine lists, salted-join
    // targets). Bounded TopK partials, never a sort of the counts
    "q170_hot_keys" -> ((s, dir) =>
      operators.Skew.hotKeys(Tables.events(s, dir), col("user_id"))
        .orderBy(col("rank"))),

    // scale ops: q42's session summary on the SHARDED path — the
    // skew-resilient slice-and-mend sessionizer (the mitigation for
    // the straggler the skew probe measured: a hot key's timeline
    // spreads over keys x slices instead of one task). Same rows by
    // construction — the oracle IS q42's (path-equality twin)
    "q169_session_summary_sharded" -> ((s, dir) =>
      Sessionize.sessionSummarySharded(Tables.events(s, dir),
          col("ts"), col("user_id"), gapSeconds = 3600)
        .withColumnRenamed("key", "user_id")
        .orderBy(col("user_id"), col("session_id"))),

    // scale ops: q46's relay-forward scan on the SHARDED path — the
    // slice-and-mend idiom applied to a lag(1) statistic (a slice's
    // first row mends against the previous active slice's last
    // address; everything else is within-slice). The probe measured
    // the analytic form at 2.4x under the 50pct hot key; same rows by
    // construction — the oracle IS q46's (path-equality twin)
    "q172_private_relay_sharded" -> ((s, dir) => {
      import operators.CustomsDetectors
      val e = Tables.events(s, dir)
        .filter(col("event_type").isin("signup", "view", "click"))
        .withColumn("etype", when(col("event_type") === "signup",
          CustomsDetectors.FxaRpEvent).otherwise(CustomsDetectors.EmailRelay))
        .withColumn("real_address", concat(lit("h"), col("event_id") % 3))
      CustomsDetectors.privateRelayForwardSharded(e, col("ts"),
          col("event_id"), col("user_id"), col("etype"),
          col("real_address"))
        .orderBy(col("uid"), col("ts_ms"), col("actual"))
    }),

    // scale ops: q69's last-first pairing on the SHARDED path — the
    // slice-and-mend idiom applied to a running-max statistic (prefix
    // max over earlier slices mends each slice's local running max;
    // no slice-width constraint since a running max decomposes over
    // any contiguous partition). The probe measured the analytic form
    // at 2.5x under the 50pct hot key; same rows by construction —
    // the oracle IS q69's (path-equality twin)
    "q173_sequence_abuse_sharded" -> ((s, dir) => {
      Heuristics.sequenceAbuseSharded(Tables.events(s, dir), col("ts"),
          col("event_id"), col("user_id"),
          col("event_type") === "click", col("event_type") === "error",
          deltaMs = 3600000L, threshold = 1)
        .withColumnRenamed("key", "user_id")
        .orderBy(col("user_id"))
    }),

    // scale ops: q52's alias-abuse gate on the SHARDED session path —
    // the escape hatch made real for the detector whose hot key IS
    // the attack (an alias flood collapses thousands of addresses
    // onto one normalized account). Same rows by construction — the
    // oracle IS q52's (path-equality twin)
    "q176_alias_abuse_sharded" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("email", concat(
          when(col("event_id") % 3 === 1, "u.ser").otherwise("us.er"),
          col("user_id"), lit("@x.com")))
        .filter(col("event_id") % 3 =!= 0)
      operators.AmoDetectors.fxaAccountAbuseAlias(e, col("ts"),
          col("email"), gapSeconds = 86400, maxAliases = 1,
          sharded = true)
        .orderBy(col("email_normalized"), col("session_id"))
    }),

    // scale ops: the streaming skew monitor's EPILOGUE,
    // driver-visible — batch-finalized daily (window, key) counts
    // through the exact NAMED function keySkewStream's foreachBatch
    // runs (Streaming.keySkewEpilogue). Shares q168's oracle
    // verbatim, so the epilogue body the stream executes is itself
    // hash-checked at the gate: a refactor that drifted its
    // semantics would mismatch here, not only in the parity spec
    "q177_key_skew_stream_epilogue" -> ((s, dir) => {
      val counts = Tables.events(s, dir)
        .groupBy(expr("(unix_millis(ts) DIV 86400000) * 86400000")
            .as("window_start_ms"),
          col("user_id").as("k"))
        .agg(count(lit(1)).as("n"))
      graft.streaming.Streaming.keySkewEpilogue(counts)
        .orderBy(col("window_start_ms"))
    }),

    // scale ops: CARD-DRIVEN sessionization — the operator that runs
    // its own skew diagnostic (one |keys|-row partial-agg pass) and
    // picks analytic vs slice-and-mend per the measured crossovers
    // (Skew.choosePath, the decision table executable). The driver
    // corpus is balanced, so this resolves to the analytic path and
    // shares q42's oracle — the hash proof that the chooser changes
    // cost, never answers
    "q178_session_summary_auto" -> ((s, dir) => {
      Sessionize.sessionSummaryAuto(Tables.events(s, dir), col("ts"),
          col("user_id"), gapSeconds = 3600)
        .withColumnRenamed("key", "user_id")
        .orderBy(col("user_id"), col("session_id"))
    }),

    // training-data ops: the BPE tokenizer's train→ship→serve loop,
    // driver-visible — train the merge table, WRITE it as the
    // canonical parquet artifact, load it back through the validated
    // boundary, and encode the corpus from the LOADED artifact.
    // Shares q96's oracle verbatim: the shipped-tokenizer serving
    // path is hash-checked end to end (the q174/q177 pattern)
    "q179_bpe_artifact" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-bpe-artifact").toString
      TextAnalysis.saveBpeMerges(
        TextAnalysis.bpeTrainMerges(d, col("text"), nMerges = 6),
        s"$tmp/merges")
      val loaded = TextAnalysis.loadBpeMerges(s, s"$tmp/merges")
      TextAnalysis.bpeEncodeCounts(d, col("doc_id"), col("text"),
          TextAnalysis.bpeMergePairs(loaded))
        .orderBy(col("doc_id"))
    }),

    // training-data ops: the IVF index's train→ship→serve loop —
    // train the refined centroids ONCE (the standalone ivfCentroids
    // artifact), ship them as parquet, load through the validated
    // boundary, and serve the cell-restricted search from the LOADED
    // index. Shares q66's oracle verbatim: a production build runs
    // Lloyd iterations once, not per query batch
    "q180_ivf_artifact" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-ivf-artifact").toString
      Similarity.saveIvfCentroids(
        Similarity.ivfCentroids(emb, col("vec_id"), col("embedding"),
          nCells = 16, iters = 2),
        s"$tmp/centroids")
      Similarity.ivfTopKWith(emb, col("vec_id"), col("embedding"),
          queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5,
          cents = Similarity.loadIvfCentroids(s, s"$tmp/centroids"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // training-data ops: the quality CLASSIFIER's train→ship→serve
    // loop — q94's labeled training shipped as the validated
    // (tok, c_pos, c_neg) artifact (class totals self-contained:
    // t_pos = sum c_pos) and the whole corpus scored from the LOADED
    // table. Shares q94's oracle verbatim
    "q181_quality_classifier_artifact" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val labeled = d.filter(col("doc_id") % 2 === 0)
        .withColumn("lab", size(filter(Dedup.tokens(col("text")),
          t => t.isin("vector", "stream", "batch"))) >= 3)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-llr-artifact").toString
      TextAnalysis.saveLlrModel(
        TextAnalysis.llrTrain(labeled, col("text"), col("lab")),
        s"$tmp/llr")
      TextAnalysis.llrScoreWith(d, col("doc_id"), col("text"),
          TextAnalysis.loadLlrModel(s, s"$tmp/llr"))
        .orderBy(col("doc_id"))
    }),

    // training-data ops: the surprisal LM's train→ship→serve loop —
    // q89's corpus model shipped as grams + (total, n) meta and the
    // corpus scored from the LOADED artifact. Shares q89's oracle
    "q182_surprisal_artifact" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-surprisal-artifact").toString
      TextAnalysis.saveSurprisalModel(
        TextAnalysis.surprisalTrain(d, col("doc_id"), col("text"),
          n = 2, minCount = 2),
        s"$tmp/lm")
      TextAnalysis.surprisalScoreWith(d, col("doc_id"), col("text"),
          TextAnalysis.loadSurprisalModel(s, s"$tmp/lm"))
        .orderBy(col("doc_id"))
    }),

    // training-data ops: the DSIR importance model's train→ship→serve
    // loop — q102's per-bucket lambda table shipped (4096 rows) and
    // the corpus weighted from the LOADED table. Shares q102's oracle
    "q183_dsir_artifact" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-dsir-artifact").toString
      TextAnalysis.saveDsirLambda(
        TextAnalysis.dsirLambda(d, col("text"),
          d.filter(col("source") === "src0"), col("text")),
        s"$tmp/lambda")
      TextAnalysis.dsirScoreWith(d, col("doc_id"), col("text"),
          TextAnalysis.loadDsirLambda(s, s"$tmp/lambda"))
        .orderBy(col("doc_id"))
    }),

    // training-data ops: the PQ CODEBOOK's train→ship→serve loop —
    // q114's per-sub-space codebook materialized standalone
    // (pqCodebook), shipped as parquet, loaded through the validated
    // boundary (contiguous sub-spaces, distinct codes, norm ≡
    // self-dot), and the ADC search served from the LOADED codebook
    // (sub-space count read off the artifact itself). Shares q114's
    // oracle verbatim — the compression member of the ANN family
    // joins IVF in the shipped-index story
    "q184_pq_artifact" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-pq-artifact").toString
      Similarity.savePqCodebook(
        Similarity.pqCodebook(emb, col("vec_id"), col("embedding")),
        s"$tmp/codebook")
      Similarity.pqAdcTopKWith(emb, col("vec_id"), col("embedding"),
          queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5,
          codebook = Similarity.loadPqCodebook(s, s"$tmp/codebook"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // scale ops: the card-driven AUTO relay scan — q46's derivation
    // through privateRelayForwardAuto (one skew-card pass over the
    // relay-relevant uids, then Skew.choosePath picks the path; the
    // balanced driver corpus resolves analytic). Shares q46's oracle
    // — with q178 (sessions) and q187 (sequence), every flippable
    // per-key-serial member's chooser is driver-visible and
    // hash-checked
    "q186_private_relay_auto" -> ((s, dir) => {
      import operators.CustomsDetectors
      val e = Tables.events(s, dir)
        .filter(col("event_type").isin("signup", "view", "click"))
        .withColumn("etype", when(col("event_type") === "signup",
          CustomsDetectors.FxaRpEvent).otherwise(CustomsDetectors.EmailRelay))
        .withColumn("real_address", concat(lit("h"), col("event_id") % 3))
      CustomsDetectors.privateRelayForwardAuto(e, col("ts"),
          col("event_id"), col("user_id"), col("etype"),
          col("real_address"))
        .orderBy(col("uid"), col("ts_ms"), col("actual"))
    }),

    // scale ops: the card-driven AUTO sequence-abuse scan — q69's
    // derivation through sequenceAbuseAuto; shares q69's oracle
    "q187_sequence_abuse_auto" -> ((s, dir) => {
      Heuristics.sequenceAbuseAuto(Tables.events(s, dir), col("ts"),
          col("event_id"), col("user_id"),
          col("event_type") === "click", col("event_type") === "error",
          deltaMs = 3600000L, threshold = 1)
        .withColumnRenamed("key", "user_id")
        .orderBy(col("user_id"))
    }),

    // training-data ops: windowed quality mix — the batch twin of
    // Streaming.qualityMixStream (the "is the crawl's quality
    // collapsing" standing monitor): the TRAINED classifier's
    // per-window predicted-quality counts, arrival synthesized from
    // doc_id (the q162 pattern). The stream shares the exact
    // llrTokenScore expression, so this oracle hash covers the
    // streaming scorer's arithmetic too
    "q185_quality_mix_windows" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val labeled = d.filter(col("doc_id") % 2 === 0)
        .withColumn("lab", size(filter(Dedup.tokens(col("text")),
          t => t.isin("vector", "stream", "batch"))) >= 3)
      TextAnalysis.llrScoreWith(d, col("doc_id"), col("text"),
          TextAnalysis.llrTrain(labeled, col("text"), col("lab")))
        .withColumn("window_start_ms",
          expr("(1700000000 + doc_id * 60) DIV 600 * 600 * 1000"))
        .groupBy(col("window_start_ms"), col("pred_quality"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("window_start_ms"), col("pred_quality"))
    }),

    // training-data ops: the trained language MODEL itself — the
    // (lang, gram, rank) profile frame a multilingual build persists
    // and ships to its classifiers (q160-q167 all consume it; the
    // kernel/streaming forms collect it via langIdModel). Its own
    // query gives the TRAINING stage a standalone bench/probe row —
    // the stage that dropped its per-language rank window for the
    // bounded lang-keyed GramTopKAggregator this round
    "q175_lang_profiles" -> ((s, dir) => {
      val d = Tables.fanOut(Tables.documents(s, dir))
      TextAnalysis.langIdProfiles(
          d.filter(col("doc_id") % 10 < 3), col("lang"), col("text"),
          m = 64)
        .orderBy(col("lang"), col("rank"))
    }),

    // training-data ops: the TRAIN-ONCE multilingual build — q165's
    // mixture through CorpusPipeline.multilingualBuild, which
    // classifies the corpus ONCE (cached narrow lineage) and derives
    // card + calibration + drift + mixture from it, where the
    // standalone queries retrain per query. Same rows by construction
    // — the oracle IS q165's (path-equality twin); the other three
    // legs are spec-pinned equal to q161/q163/q164
    "q174_multilingual_build" -> ((s, dir) => {
      val d = Tables.fanOut(Tables.documents(s, dir))
      val profiles = TextAnalysis.langIdProfiles(
        d.filter(col("doc_id") % 10 < 3), col("lang"), col("text"),
        m = 64)
      val b = pipelines.CorpusPipeline.multilingualBuild(d,
        col("doc_id"), col("text"), profiles,
        arrivalWindowMs =
          expr("(1700000000 + doc_id * 60) DIV 600 * 600 * 1000"),
        weights = Map("en" -> 0.35, "de" -> 0.15, "es" -> 0.15,
          "fr" -> 0.15, "zh" -> 0.10),
        defaultWeight = 0.05, budget = 100000L)
      // |langs| rows — materialize, then close() the build so its
      // cached lineage never outlives the query (r16 advisory)
      val mixRows = b.mixture.collect()
      b.close()
      s.createDataFrame(java.util.Arrays.asList(mixRows: _*),
        b.mixture.schema)
    }),

    "q157_ingest_select" -> ((s, dir) => {
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      def twin(offset: Long, prefix: String) =
        base.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + offset).as("doc_id"),
            concat(lit(prefix), col("text")).as("text"))
      val d = base
        .union(twin(300000L, "caf\u00e9 preface: "))
        .union(twin(400000L, "cafe\u0301 preface: "))
      val wrapped = when(col("doc_id") % 7 === 0,
        concat(lit("<html><body class=\"x\"><p id='m'>"), col("text"),
          lit(" &amp; more &amp;lt;kept&amp;gt;</p><!-- footer -->" +
            "<script>var x = \"<p>\";</script></body></html>")))
        .otherwise(col("text"))
      val clean = d.select(col("doc_id"), wrapped.as("raw"))
        .select(col("doc_id"),
          operators.TextAnalysis.stripHtml(col("raw")).as("text"))
      val banned = operators.TextAnalysis.bannedTermScreen(clean,
          col("doc_id"), col("text"),
          Seq("slow scan", "big query", "merge batch"))
        .filter(col("flagged")).select(col("doc_id"))
      // ONE aggregate does the whole NFC-dedup survivor pick:
      // min(doc_id) per canonical hash IS the canonical id and
      // min_by(text, doc_id) carries its raw text, so the 3-scan
      // union + strip chain + automaton evaluate ONCE with no persist
      // (the earlier hash-side/dedup-side join consumed pass1 twice —
      // Catalyst does not dedupe common subplans, the q126 funnel
      // lesson — and the MEMORY_AND_DISK persist that patched it
      // leaked cached blocks across long sessions, the exact
      // storage-pool pressure the q80 probe measured). Text still
      // crosses exactly ONE exchange: partial min_by ships at most
      // one candidate text per hash per map task.
      val pass1 = clean.join(banned, Seq("doc_id"), "left_anti")
      val canon = functions.Functions.unicodeNormalize(col("text"))
      val surv = pass1
        .groupBy(md5(canon).as("text_hash"))
        .agg(min(col("doc_id")).as("doc_id"),
          min_by(col("text"), col("doc_id")).as("text"))
      val kept = surv
        .filter(operators.TextAnalysis.qualityOk(col("text")))
        .select(col("doc_id"),
          size(Dedup.tokens(col("text"))).cast("long").as("wt0"))
      Sampling.systematicPps(kept, col("doc_id"), col("wt0"), k = 30)
        .orderBy(col("doc_id"))
    }),

    // training-data ops: per-source stop-word-permille quantiles —
    // the quality-threshold calibration view (where should the gate
    // sit for THIS source?), via the generalized integer-histogram
    // quantile kernel
    "q135_stop_quantiles" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val q = TextAnalysis.qualityScore(d, col("doc_id"), col("text"))
        .filter(col("n_tokens") >= 1)
        .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
      TextAnalysis.integerQuantiles(q, col("source"),
          expr("n_stop * 1000 DIV n_tokens"))
        .orderBy(col("stratum"))
    }),

    // training-data ops: tokenizer fertility by source (BPE tokens
    // per word, integer permille) under the q95-trained merge table
    "q136_bpe_fertility" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val merges = TextAnalysis.bpeTrainMerges(d, col("text"), nMerges = 6)
        .orderBy(col("round")).collect()
        .map(r => r.getString(1) -> r.getString(2)).toSeq
      TextAnalysis.bpeFertility(d, col("doc_id"), col("source"),
          col("text"), merges)
        .orderBy(col("stratum"))
    }),

    // training-data ops: near-dup degree ("dup hub" triage) over
    // q17's LSH pairs — one symmetric union + one doc-keyed aggregate
    "q137_dup_hubs" -> ((s, dir) => {
      val pairs = Dedup.minhashLshPairs(Tables.documents(s, dir),
        col("doc_id"), col("text"), n = 3, numHashes = 16, bands = 8,
        minEstJaccard = 0.5)
      Dedup.dupDegree(pairs, col("doc_a"), col("doc_b"),
          col("est_jaccard"), minDegree = 1)
        .orderBy(col("doc_id"))
    }),

    // training-data ops: corpus snapshot diff — per-doc
    // added/removed/changed/unchanged between two releases; one
    // full-outer join on doc_id carrying only 32-byte hashes
    "q133_corpus_diff" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val neu = d.filter(col("doc_id") % 13 =!= 0) // removals
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" [rev2]"))) // edits
            .otherwise(col("text")).as("text"))
        .unionByName(d.filter(col("doc_id") % 11 === 0) // additions
          .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      pipelines.CorpusPipeline.corpusDiff(d, col("doc_id"), col("text"),
          neu, col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    }),

    // training-data ops: Unicode script mix per doc (codepoint-range
    // arithmetic, never non-ASCII regex classes) with deterministic
    // CJK/Cyrillic/digit decorations so every family actually counts
    "q134_script_mix" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0, lit(" 你好世界机器学习"))
            .when(col("doc_id") % 5 === 1, lit(" Привет мир"))
            .when(col("doc_id") % 5 === 2, lit(" 1234567890"))
            .otherwise(lit(""))).as("t2"))
      TextAnalysis.scriptMix(d, col("doc_id"), col("t2"))
        .orderBy(col("doc_id"))
    }),

    // training-data ops: per-source n-gram diversity (type-token +
    // top-gram concentration, integer permille) — the mixture
    // designer's boilerplate detector, two-level LM-stats reduction
    "q132_ngram_diversity" -> ((s, dir) => {
      TextAnalysis.ngramDiversity(Tables.documents(s, dir),
          col("source"), col("text"), n = 2)
        .orderBy(col("stratum"))
    }),

    // training-data ops: budgeted selection — "keep the best docs
    // until the token budget is spent" via histogram inversion (one
    // score-class aggregate decides every class wholesale; only the
    // boundary class pays a within-class cumsum), never a global sort
    "q131_budget_select" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Sampling.budgetSelect(d, col("doc_id"), col("n_chars"),
          size(TextAnalysis.tokens(col("text"))), budget = 60000L)
        .orderBy(col("doc_id"))
    }),

    // training-data ops: q83's decontamination behind a Bloom
    // prefilter — bench grams collapse to one ~MB Bloom row, the
    // corpus gram stream prunes map-side, the exact join decides
    // (sketch prunes / exact decides); same bench split, same oracle
    // as q83, so path equality is hash-proven
    "q130_bloom_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + 1000000).as("bid"), col("text"))
      // capacity sized to the 1-in-97 bench split (~100k grams at
      // sf0.1): the default 4M capacity costs a 4.8 MB buffer PER
      // partial-agg task for no fpp benefit at this bench size
      TextAnalysis.decontaminateBloom(docs, col("doc_id"), col("text"),
          bench, col("bid"), col("text"), n = 3, minOverlapFrac = 0.5,
          expectedGrams = 300000L)
        .orderBy(col("corpus_id"), col("bench_id"))
    }),

    // training-data ops: batched BPE training — top-64-window
    // symbol-disjoint batch accept, 2 rounds (a 32k vocab at 1
    // merge/round is hours of driver round-trips; batching is how a
    // real trainer ships). Greedy-equivalence pinned in spec.
    "q129_bpe_batched" -> ((s, dir) => {
      TextAnalysis.bpeTrainMergesBatched(Tables.documents(s, dir),
          col("text"), batchSize = 64, maxRounds = 2)
        .orderBy(col("merge_no"))
    }),

    // training-data ops: q91's line dedup through the 100 TB
    // patch-set path — only (doc_id, line_no) pairs shuffle, text is
    // rewritten map-side in the apply scan; same decorated input and
    // same oracle as q91, so the two paths are oracle-proven equal
    "q128_line_patches" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0,
            lit("\nsubscribe to our newsletter today"))
            .when(col("doc_id") % 4 === 1,
              lit("\nall rights reserved worldwide"))
            .when(col("doc_id") % 4 === 2, lit("\nok"))
            .otherwise(lit(""))).as("t2"))
      Dedup.lineDedupViaPatches(d, col("doc_id"), col("t2"),
          maxLineFreq = 5, minLineChars = 5)
        .orderBy(col("doc_id"))
    }),

    // training-data ops: both Broder measures (resemblance +
    // containment) off ONE shingle join — q16 ∪ q115's pairs with the
    // two signals side by side, zero extra shuffle
    "q127_overlap_measures" -> ((s, dir) => {
      Dedup.overlapMeasures(Tables.documents(s, dir), col("doc_id"),
          col("text"), n = 3, minJaccard = 0.5, minContainment = 0.6)
        .orderBy(col("doc_a"), col("doc_b"))
    })
  )

  /** Shared boilerplate passage for q106 (chosen to contain several
    * interior gear-hash boundaries at maskBits=6, so shifted copies
    * are guaranteed to share chunks). */
  val GearPassage: String =
    "licensing policy notice corpus appears rights common documents " +
    "cookie text data contact disclaimer legal terms all reserved " +
    "verbatim subscribe across copy privacy footer everywhere " +
    "boilerplate consent"

  /** Query set for q100 (terms from the synthetic corpus vocabulary;
    * `the` exercises the idf=0 stopword clamp). */
  val Bm25Queries: Seq[(String, String)] = Seq(
    "q_spark" -> "vector stream batch shuffle",
    "q_db" -> "query table join index",
    "q_mixed" -> "the customer window merge")

  /** Marker token lists for q23 (vocabulary-aware demo classes). */
  val MarkerClasses: Map[String, Seq[String]] = Map(
    "db" -> Seq("query", "table", "join", "filter", "scan", "index"),
    "spark" -> Seq("spark", "batch", "stream", "agg", "vector", "shuffle"),
    "misc" -> Seq("the", "a", "fast", "slow", "small"))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = {
    val base = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100,0) AS BIGINT)) AS BIGINT) AS sum_disc_price_cents,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_hard_limit" ->
      """SELECT epoch_ms(date_trunc('day', ts)) AS window_start_ms, user_id,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1, 2 HAVING COUNT(*) > 5 ORDER BY 1, 2""".stripMargin,

    "q03_threshold_mean" ->
      """WITH per_key AS (
        |  SELECT epoch_ms(date_trunc('day', ts)) AS window_start_ms, user_id,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |per_window AS (
        |  SELECT window_start_ms, AVG(n) AS mean_n FROM per_key GROUP BY 1)
        |SELECT k.window_start_ms, k.user_id, k.n, w.mean_n
        |FROM per_key k JOIN per_window w USING (window_start_ms)
        |WHERE k.n >= w.mean_n * 2.0 ORDER BY 1, 2""".stripMargin,

    "q04_error_rate" ->
      """SELECT epoch_ms(date_trunc('day', ts)) AS window_start_ms, user_id,
        |  COUNT(*) AS errors
        |FROM events WHERE event_type = 'error'
        |GROUP BY 1, 2 HAVING COUNT(*) > 2 ORDER BY 1, 2""".stripMargin,

    "q05_status_rate" ->
      """SELECT * FROM (
        |  SELECT epoch_ms(date_trunc('day', ts)) AS window_start_ms, user_id,
        |    COUNT(*) AS total,
        |    COUNT(*) FILTER (event_type = 'error') AS errors,
        |    (COUNT(*) FILTER (event_type = 'error')) * 1.0 / COUNT(*) AS ratio
        |  FROM events GROUP BY 1, 2)
        |WHERE total >= 3 AND ratio >= 0.5 ORDER BY 1, 2""".stripMargin,

    "q06_top_event_type" ->
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT user_id, event_type, n, ROW_NUMBER() OVER (
        |    PARTITION BY user_id ORDER BY n DESC, event_type) AS rn
        |  FROM c)
        |SELECT user_id, event_type, n FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q07_distinct_types" ->
      """SELECT epoch_ms(date_trunc('day', ts)) AS window_start_ms, user_id,
        |  COUNT(DISTINCT event_type) AS n_distinct
        |FROM events GROUP BY 1, 2
        |HAVING COUNT(DISTINCT event_type) >= 4 ORDER BY 1, 2""".stripMargin,

    "q08_rollup_orders" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q09_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,

    "q10_region_revenue" ->
      """SELECT r_name,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100,0) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q11_pane_delta" ->
      """WITH c AS (
        |  SELECT epoch_ms(date_trunc('day', ts)) AS window_start_ms,
        |    event_type AS classifier, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT window_start_ms, classifier, n, LAG(n, 1) OVER (
        |    PARTITION BY classifier ORDER BY window_start_ms) AS prev_n
        |  FROM c)
        |SELECT window_start_ms, classifier, n, prev_n,
        |  (n - prev_n) * 100.0 / prev_n AS pct_change
        |FROM l WHERE prev_n IS NOT NULL
        |ORDER BY classifier, window_start_ms""".stripMargin,

    "q12_flagged_ratio" ->
      """SELECT * FROM (
        |  SELECT user_id, COUNT(*) AS total,
        |    COUNT(*) FILTER (event_type = 'error') AS flagged,
        |    (COUNT(*) FILTER (event_type = 'error')) * 1.0 / COUNT(*) AS ratio
        |  FROM events GROUP BY 1)
        |WHERE total >= 60 AND ratio >= 0.25 ORDER BY user_id""".stripMargin,

    "q13_sequence_pairs" ->
      """SELECT a.user_id, COUNT(*) AS n_pairs
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |  AND a.event_type = 'view' AND b.event_type = 'purchase'
        |  AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 600 SECONDS
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin,

    "q14_session_limit" ->
      """WITH t AS (
        |  SELECT user_id, ts, CASE WHEN
        |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER (
        |        PARTITION BY user_id ORDER BY ts)) >= 3600000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (
        |  SELECT user_id, SUM(new_s) OVER (
        |    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM t),
        |g AS (SELECT user_id, sid, COUNT(*) AS n_events FROM s GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |  MAX(n_events) AS max_session_events, CAST(SUM(n_events) AS BIGINT) AS total_events
        |FROM g GROUP BY 1 HAVING MAX(n_events) >= 3 ORDER BY 1""".stripMargin,

    "q15_exact_dedup" ->
      """SELECT md5(text) AS text_hash, MIN(doc_id) AS canonical_id,
        |  COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY canonical_id""".stripMargin,

    "q16_ngram_jaccard" ->
      s"""WITH w AS (SELECT doc_id,
        |    list_filter(string_split(lower(text),' '), t -> t <> '') ws
        |  FROM documents),
        |pos AS (SELECT doc_id, ws,
        |    unnest(generate_series(1, greatest(0, len(ws)-2))) i FROM w),
        |sh AS (SELECT DISTINCT doc_id,
        |    array_to_string(ws[i:i+2], ' ') s FROM pos),
        |n AS (SELECT doc_id, COUNT(*) n_sh FROM sh GROUP BY 1),
        |p AS (SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) shared
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, shared,
        |  shared / (na.n_sh + nb.n_sh - shared) AS jaccard
        |FROM p JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b
        |WHERE shared / (na.n_sh + nb.n_sh - shared) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q17_minhash_lsh" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split(lower(text),' '), t -> t <> '') ws
        |  FROM documents),
        |pos AS (SELECT doc_id, ws,
        |    unnest(generate_series(1, greatest(0, len(ws)-2))) i FROM w),
        |sh AS (SELECT DISTINCT doc_id,
        |    array_to_string(ws[i:i+2], ' ') s FROM pos),
        |hs AS (SELECT doc_id, md5('1:' || s) || md5('2:' || s) h FROM sh),
        |sigs AS (SELECT doc_id, k, MIN(substr(h, k*4 + 1, 4)) sig
        |  FROM hs CROSS JOIN (SELECT unnest(generate_series(0,15)) k) t
        |  GROUP BY 1, 2),
        |bands AS (SELECT doc_id, k//2 AS band,
        |    md5(string_agg(sig, '|' ORDER BY k)) bkey
        |  FROM sigs GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT x.doc_id doc_a, y.doc_id doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
        |m AS (SELECT doc_a, doc_b,
        |    COUNT(*) FILTER (sa.sig = sb.sig) AS n_match
        |  FROM cand JOIN sigs sa ON sa.doc_id = doc_a
        |    JOIN sigs sb ON sb.doc_id = doc_b AND sb.k = sa.k
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_match, n_match / 16.0 AS est_jaccard
        |FROM m WHERE n_match / 16.0 >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,

    "q18_simhash" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(list_filter(string_split(lower(text),' '), t -> t <> '')) tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) w FROM toks GROUP BY 1, 2),
        |b AS (SELECT doc_id, w, md5(tok) h,
        |    unnest(generate_series(0,31)) j FROM tf),
        |d AS (SELECT doc_id, j, w,
        |    strpos('0123456789abcdef', h[j//4 + 1]) - 1 AS digit FROM b),
        |bits AS (SELECT doc_id, j,
        |    CASE WHEN SUM((((digit // ([8,4,2,1])[(j%4)+1]) % 2)*2 - 1) * w) > 0
        |      THEN 1 ELSE 0 END sb
        |  FROM d GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(sb * CAST(power(2, j) AS BIGINT)) AS BIGINT)
        |  AS simhash
        |FROM bits GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "q19_cosine_topk" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) qv
        |  FROM embeddings),
        |ed AS (SELECT vec_id, generate_subscripts(qv, 1) d, unnest(qv) v FROM e),
        |nrm AS (SELECT vec_id, CAST(SUM(v*v) AS BIGINT) nrm FROM ed GROUP BY 1),
        |q AS (SELECT vec_id query_id, d, v FROM ed WHERE vec_id IN (0,1,2,3,4)),
        |dots AS (SELECT q.query_id, ed.vec_id, CAST(SUM(q.v * ed.v) AS BIGINT) dot
        |  FROM q JOIN ed ON q.d = ed.d WHERE ed.vec_id <> q.query_id
        |  GROUP BY 1, 2),
        |scored AS (SELECT query_id, dots.vec_id AS vec_id,
        |    dot / sqrt(CAST(na.nrm * nb.nrm AS DOUBLE)) AS cosine
        |  FROM dots JOIN nrm na ON na.vec_id = query_id
        |    JOIN nrm nb ON nb.vec_id = dots.vec_id),
        |r AS (SELECT query_id, vec_id, cosine, ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, vec_id, cosine FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q20_lsh_topk" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) qv
        |  FROM embeddings),
        |ed AS (SELECT vec_id, generate_subscripts(qv, 1) d, unnest(qv) v FROM e),
        |nrm AS (SELECT vec_id, CAST(SUM(v*v) AS BIGINT) nrm FROM ed GROUP BY 1),
        |wts AS (SELECT p, d,
        |    (strpos('0123456789abcdef', md5(p || ':' || d)[1]) - 1)*2 - 15 AS w
        |  FROM (SELECT unnest(generate_series(0,3)) p)
        |  CROSS JOIN (SELECT unnest(generate_series(0,63)) d)),
        |pb AS (SELECT ed.vec_id, wts.p,
        |    CASE WHEN SUM(wts.w * ed.v) > 0
        |      THEN CAST(power(2, wts.p) AS BIGINT) ELSE 0 END bb
        |  FROM ed JOIN wts ON wts.d = ed.d - 1 GROUP BY 1, 2),
        |bk AS (SELECT vec_id, CAST(SUM(bb) AS BIGINT) bucket FROM pb GROUP BY 1),
        |q AS (SELECT e.vec_id query_id, bk.bucket FROM e
        |  JOIN bk ON bk.vec_id = e.vec_id WHERE e.vec_id IN (0,1,2,3,4)),
        |cand AS (SELECT q.query_id, bk.vec_id FROM q
        |  JOIN bk ON bk.bucket = q.bucket WHERE bk.vec_id <> q.query_id),
        |dots AS (SELECT c.query_id, c.vec_id, CAST(SUM(qe.v * ce.v) AS BIGINT) dot
        |  FROM cand c JOIN ed qe ON qe.vec_id = c.query_id
        |    JOIN ed ce ON ce.vec_id = c.vec_id AND ce.d = qe.d
        |  GROUP BY 1, 2),
        |scored AS (SELECT query_id, dots.vec_id,
        |    dot / sqrt(CAST(na.nrm * nb.nrm AS DOUBLE)) AS cosine
        |  FROM dots JOIN nrm na ON na.vec_id = query_id
        |    JOIN nrm nb ON nb.vec_id = dots.vec_id),
        |r AS (SELECT query_id, vec_id, cosine, ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, vec_id, cosine FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q21_token_stats" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split(lower(text),' '), t -> t <> '') ws
        |  FROM documents)
        |SELECT doc_id, CAST(len(ws) AS BIGINT) n_tokens,
        |  CAST(len(list_distinct(ws)) AS BIGINT) n_types,
        |  len(list_distinct(ws)) / len(ws) AS ttr
        |FROM w ORDER BY doc_id""".stripMargin,

    "q22_quality" ->
      """WITH w AS (SELECT doc_id, CAST(length(text) AS BIGINT) n_chars,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) n_units,
        |    list_filter(string_split(lower(text),' '), t -> t <> '') ws
        |  FROM documents),
        |c AS (SELECT doc_id, n_chars, n_units,
        |    CAST(len(ws) AS BIGINT) n_tokens,
        |    CAST(len(list_filter(ws,
        |      t -> list_contains(['the','a','and','of','to','in'], t))) AS BIGINT) n_stop
        |  FROM w)
        |SELECT doc_id, n_chars, n_units, n_tokens, n_stop,
        |  n_stop / n_tokens AS stop_ratio,
        |  (n_chars - (n_tokens - 1)) / n_tokens AS mean_token_len,
        |  (n_tokens >= 10 AND n_stop / n_tokens >= 0.01
        |    AND n_stop / n_tokens <= 0.6
        |    AND (n_chars - (n_tokens - 1)) / n_tokens <= 12.0) AS quality_ok
        |FROM c ORDER BY doc_id""".stripMargin,

    "q23_classify_markers" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split(lower(text),' '), t -> t <> '') ws
        |  FROM documents),
        |m AS (SELECT * FROM (VALUES
        |    ('db', ['query','table','join','filter','scan','index']),
        |    ('spark', ['spark','batch','stream','agg','vector','shuffle']),
        |    ('misc', ['the','a','fast','slow','small'])) AS t(class, words)),
        |s AS (SELECT doc_id, class,
        |    CAST(len(list_filter(ws, t -> list_contains(words, t))) AS BIGINT)
        |      / CAST(len(ws) AS BIGINT) AS score
        |  FROM w CROSS JOIN m),
        |r AS (SELECT doc_id, class, score, ROW_NUMBER() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, class) rn FROM s)
        |SELECT doc_id, class AS pred_class, score FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    "q24_fingerprint" ->
      """SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
        |    list_filter(string_split(lower(text),' '), t -> t <> ''))), ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q25_parse_roundtrip" ->
      """SELECT '/e/' || event_id AS path, 'app.test' AS host,
        |  '10.' || (user_id // 65536) % 256 || '.' || (user_id // 256) % 256
        |    || '.' || user_id % 256 AS source_ip,
        |  CASE WHEN event_type = 'purchase' THEN 'POST' ELSE 'GET' END AS method,
        |  CAST(CASE WHEN event_type = 'error' THEN 500 ELSE 200 END AS BIGINT)
        |    AS status,
        |  'ua-' || user_id AS ua, epoch_ms(ts) AS ts_ms,
        |  'glb' AS payload_type
        |FROM events ORDER BY path""".stripMargin,

    "q26_event_filter" ->
      """SELECT '/e/' || event_id AS path, 'ua-' || user_id AS ua,
        |  CAST(500 AS BIGINT) AS status
        |FROM events
        |WHERE event_type = 'error'
        |  AND NOT regexp_matches('ua-' || user_id, 'ua-1[0-9]$')
        |ORDER BY path""".stripMargin,

    "q27_suppress" ->
      """WITH RECURSIVE s AS (
        |  SELECT user_id, MIN(ts) AS ts FROM events GROUP BY user_id
        |  UNION ALL
        |  SELECT s.user_id,
        |    (SELECT MIN(e.ts) FROM events e WHERE e.user_id = s.user_id
        |       AND e.ts > s.ts + INTERVAL 7200 SECOND) AS ts
        |  FROM s
        |  WHERE (SELECT MIN(e.ts) FROM events e WHERE e.user_id = s.user_id
        |       AND e.ts > s.ts + INTERVAL 7200 SECOND) IS NOT NULL)
        |SELECT user_id, epoch_ms(ts) AS ts_ms FROM s
        |ORDER BY user_id, ts_ms""".stripMargin,

    "q28_geo_velocity" ->
      """WITH p AS (
        |  SELECT user_id, ts,
        |    (event_id % 18000) / 100.0 - 90.0 AS lat,
        |    (event_id % 36000) / 100.0 - 180.0 AS lon
        |  FROM events),
        |l AS (
        |  SELECT user_id, ts, lat, lon,
        |    LAG(ts) OVER w AS prev_ts, LAG(lat) OVER w AS prev_lat,
        |    LAG(lon) OVER w AS prev_lon
        |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |v AS (
        |  SELECT user_id, ts,
        |    2 * 6378.0 * asin(sqrt(
        |      pow(sin(radians(lat - prev_lat) / 2), 2) +
        |      cos(radians(prev_lat)) * cos(radians(lat)) *
        |        pow(sin(radians(lon - prev_lon) / 2), 2)))
        |      AS km,
        |    (epoch_us(ts) - epoch_us(prev_ts)) / 3600000000.0 AS hours
        |  FROM l
        |  WHERE prev_ts IS NOT NULL AND epoch_us(ts) > epoch_us(prev_ts))
        |SELECT user_id, epoch_ms(ts) AS ts_ms,
        |  CAST(FLOOR(km / hours + 0.5) AS BIGINT) AS speed_kmh
        |FROM v WHERE FLOOR(km / hours + 0.5) > 10.0
        |ORDER BY user_id, ts_ms""".stripMargin,

    "q29_feature_variance" ->
      """WITH c AS (
        |  SELECT user_id,
        |    COUNT(*) FILTER (event_type = 'click') AS n_click,
        |    COUNT(*) FILTER (event_type = 'error') AS n_error,
        |    COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
        |    COUNT(*) FILTER (event_type = 'signup') AS n_signup,
        |    COUNT(*) FILTER (event_type = 'view') AS n_view,
        |    COUNT(*) AS total
        |  FROM events GROUP BY user_id),
        |m AS (SELECT *,
        |    (n_click + n_error + n_purchase + n_signup + n_view) / 5.0 AS mean
        |  FROM c)
        |SELECT user_id, n_click, n_error, n_purchase, n_signup, n_view, total,
        |  ((((0.0 + (n_click - mean) * (n_click - mean))
        |    + (n_error - mean) * (n_error - mean))
        |    + (n_purchase - mean) * (n_purchase - mean))
        |    + (n_signup - mean) * (n_signup - mean)
        |    + (n_view - mean) * (n_view - mean)) / 5 AS variance
        |FROM m ORDER BY user_id""".stripMargin,

    "q30_media_features" ->
      """WITH h AS (SELECT doc_id AS media_id,
        |    CAST(length(text) AS BIGINT) n_bytes, md5(text) m FROM documents),
        |d AS (SELECT media_id, n_bytes, m, unnest(generate_series(0,3)) i FROM h),
        |f AS (SELECT media_id, n_bytes, i, CAST(
        |    (strpos('0123456789abcdef', m[i*4+1])-1)*4096
        |  + (strpos('0123456789abcdef', m[i*4+2])-1)*256
        |  + (strpos('0123456789abcdef', m[i*4+3])-1)*16
        |  + (strpos('0123456789abcdef', m[i*4+4])-1) AS BIGINT) v FROM d)
        |SELECT media_id, n_bytes,
        |  MAX(CASE WHEN i=0 THEN v END) AS f0,
        |  MAX(CASE WHEN i=1 THEN v END) AS f1,
        |  MAX(CASE WHEN i=2 THEN v END) AS f2,
        |  MAX(CASE WHEN i=3 THEN v END) AS f3
        |FROM f GROUP BY 1, 2 ORDER BY media_id""".stripMargin,

    "q31_frame_sample" ->
      """WITH n AS (SELECT doc_id, text,
        |    unnest(generate_series(0,
        |      CAST(ceil(length(text) / 64.0) AS INT) - 1)) f FROM documents)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame_no,
        |  substr(text, f*64 + 1, 64) AS frame_str
        |FROM n WHERE f % 2 = 0 ORDER BY doc_id, frame_no""".stripMargin,

    "q32_sliding_window" ->
      """SELECT epoch_ms(date_trunc('day', ts) - i * INTERVAL 1 DAY)
        |    AS window_start_ms,
        |  event_type, COUNT(*) AS n
        |FROM (SELECT ts, event_type, unnest([0, 1]) i FROM events)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q33_edit_cluster" ->
      """SELECT a.c_nationkey AS nk, a.c_mktsegment AS seg,
        |  COUNT(*) AS n_similar_pairs
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey
        |  AND a.c_mktsegment = b.c_mktsegment
        |  AND a.c_name < b.c_name
        |  AND levenshtein(a.c_name, b.c_name) <= 3
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q34_cidr_filter" ->
      """SELECT user_id,
        |  '10.' || (user_id // 65536) % 256 || '.' || (user_id // 256) % 256
        |    || '.' || user_id % 256 AS ip,
        |  COUNT(*) AS n
        |FROM events
        |WHERE ((user_id // 65536) % 256 = 0 AND (user_id // 256) % 256 = 0
        |       AND user_id % 256 < 16)
        |   OR ((user_id // 65536) % 256 = 0 AND (user_id // 256) % 256 = 1)
        |GROUP BY 1, 2 ORDER BY user_id""".stripMargin,

    "q35_json_props" ->
      """SELECT user_id,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(json_extract_string(props, '$.k')) AS n_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q36_email_norm" ->
      """SELECT DISTINCT user_id,
        |  'user' || user_id || '@d' || user_id % 3 || '.example' AS norm_email,
        |  'd' || user_id % 3 || '.example' AS domain
        |FROM events ORDER BY user_id""".stripMargin,

    "q37_xff_client" ->
      """SELECT DISTINCT user_id,
        |  CASE WHEN user_id % 5 = 0 THEN NULL
        |       ELSE '198.51.' || user_id % 256 || '.9' END AS client
        |FROM events ORDER BY user_id""".stripMargin,

    "q38_violation" ->
      """SELECT epoch_ms(date_trunc('day', ts)) AS window_start_ms,
        |  '10.' || (user_id // 65536) % 256 || '.' || (user_id // 256) % 256
        |    || '.' || user_id % 256 AS ip,
        |  'hard_limit_violation' AS violation,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1, 2 HAVING COUNT(*) > 5
        |ORDER BY window_start_ms, ip""".stripMargin,

    "q39_identity" ->
      """SELECT 'user' || user_id AS username,
        |  CASE WHEN user_id % 2 = 0 THEN 'acct-' || (user_id // 2)
        |       ELSE 'user' || user_id END AS identity,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY username""".stripMargin,

    "q42_session_summary" ->
      """WITH t AS (
        |  SELECT user_id, ts, CASE WHEN
        |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER (
        |        PARTITION BY user_id ORDER BY ts)) >= 3600000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, CAST(SUM(new_s) OVER (
        |    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM t)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  epoch_ms(MIN(ts)) AS session_start_ms,
        |  epoch_ms(MAX(ts)) AS session_end_ms
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin,

    "q41_ivf_topk" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) qv
        |  FROM embeddings),
        |ed AS (SELECT vec_id, generate_subscripts(qv, 1) d, unnest(qv) v FROM e),
        |nrm AS (SELECT vec_id, CAST(SUM(v*v) AS BIGINT) nrm FROM ed GROUP BY 1),
        |cd AS (SELECT vec_id AS cent_id, d, v FROM ed WHERE vec_id < 16),
        |cdot AS (SELECT ed.vec_id, cd.cent_id, CAST(SUM(ed.v * cd.v) AS BIGINT) dot
        |  FROM ed JOIN cd ON cd.d = ed.d GROUP BY 1, 2),
        |cscore AS (SELECT cdot.vec_id, cent_id,
        |    dot / sqrt(CAST(na.nrm * nb.nrm AS DOUBLE)) AS c_cos
        |  FROM cdot JOIN nrm na ON na.vec_id = cdot.vec_id
        |    JOIN nrm nb ON nb.vec_id = cent_id),
        |cell AS (SELECT vec_id, cent_id AS cell FROM (
        |    SELECT vec_id, cent_id, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id ORDER BY c_cos DESC, cent_id) rn
        |    FROM cscore) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, cell FROM cell
        |  WHERE vec_id IN (0,1,2,3,4)),
        |cand AS (SELECT q.query_id, c.vec_id FROM q
        |  JOIN cell c ON c.cell = q.cell WHERE c.vec_id <> q.query_id),
        |dots AS (SELECT c.query_id, c.vec_id, CAST(SUM(qe.v * ce.v) AS BIGINT) dot
        |  FROM cand c JOIN ed qe ON qe.vec_id = c.query_id
        |    JOIN ed ce ON ce.vec_id = c.vec_id AND ce.d = qe.d
        |  GROUP BY 1, 2),
        |scored AS (SELECT query_id, dots.vec_id AS vec_id,
        |    dot / sqrt(CAST(na.nrm * nb.nrm AS DOUBLE)) AS cosine
        |  FROM dots JOIN nrm na ON na.vec_id = query_id
        |    JOIN nrm nb ON nb.vec_id = dots.vec_id),
        |r AS (SELECT query_id, vec_id, cosine, ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, vec_id, cosine FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q43_customs_velocity" ->
      """WITH base AS (
        |  SELECT user_id AS uid, ts, event_id AS seq,
        |    'user' || user_id AS email,
        |    '10.0.' || (user_id % 256) || '.' || (event_id % 4) AS addr,
        |    (event_id * 37 % 18000) / 100.0 - 90.0 AS lat,
        |    (event_id * 73 % 36000) / 100.0 - 180.0 AS lon
        |  FROM events WHERE event_type = 'view'),
        |dedup AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY uid, epoch_ms(ts) // 300000, addr
        |      ORDER BY ts, seq) AS rn
        |    FROM base) WHERE rn = 1),
        |lagd AS (
        |  SELECT uid, email, ts, seq, addr, lat, lon,
        |    LAG(addr) OVER w AS prev_addr, LAG(ts) OVER w AS prev_ts,
        |    LAG(lat) OVER w AS prev_lat, LAG(lon) OVER w AS prev_lon
        |  FROM dedup WINDOW w AS (PARTITION BY uid ORDER BY ts, seq)),
        |v AS (
        |  SELECT uid AS user_id, email, epoch_ms(ts) AS ts_ms, addr,
        |    prev_addr,
        |    epoch_ms(ts) // 1000 - epoch_ms(prev_ts) // 1000 AS td_s,
        |    CAST(FLOOR(2 * 6378.0 * asin(sqrt(
        |      pow(sin(radians(lat - prev_lat) / 2), 2) +
        |      cos(radians(prev_lat)) * cos(radians(lat)) *
        |      pow(sin(radians(lon - prev_lon) / 2), 2))) * 100 + 0.5)
        |      AS BIGINT) AS km_centi
        |  FROM lagd WHERE prev_addr IS NOT NULL AND addr <> prev_addr)
        |SELECT * FROM v WHERE km_centi >= 50000 AND km_centi > 0.5 * td_s
        |ORDER BY user_id, ts_ms, addr""".stripMargin,

    "q44_account_enumeration" ->
      """WITH f AS (
        |  SELECT ts, epoch_ms(date_trunc('day', ts)) AS window_start_ms,
        |    '10.0.0.' || (user_id % 10) AS src,
        |    'e' || (event_id % 97) AS email,
        |    ((user_id % 10) IN (0,3,6,9) OR event_type = 'click') AS is_sc,
        |    CASE WHEN (user_id % 10) IN (0,3,6,9) OR event_type = 'click'
        |      THEN '/v1/account/status'
        |      ELSE '/p/' || event_type END AS path
        |  FROM events),
        |per_addr AS (
        |  SELECT window_start_ms, src,
        |    COUNT(DISTINCT CASE WHEN is_sc THEN email END) AS n_emails,
        |    epoch_ms(max(CASE WHEN is_sc THEN ts END)) AS latest_ts_ms
        |  FROM f GROUP BY 1, 2
        |  HAVING COUNT(*) FILTER (is_sc) >= 8
        |     AND COUNT(DISTINCT path) = 1
        |     AND COUNT(DISTINCT CASE WHEN is_sc THEN email END) >= 8),
        |variance AS (
        |  SELECT DISTINCT epoch_ms(date_trunc('day', ts)) AS window_start_ms,
        |    '10.0.0.' || (user_id % 10) AS src
        |  FROM events WHERE event_type = 'signup' AND user_id % 2 = 0),
        |vc AS (
        |  SELECT window_start_ms FROM variance GROUP BY 1
        |  HAVING COUNT(DISTINCT src) >= 3)
        |SELECT p.window_start_ms, p.src, p.n_emails, p.latest_ts_ms
        |FROM per_addr p
        |JOIN vc USING (window_start_ms)
        |LEFT JOIN variance v
        |  ON v.window_start_ms = p.window_start_ms AND v.src = p.src
        |WHERE v.src IS NULL
        |ORDER BY 1, 2""".stripMargin,

    "q45_srcfail_dist" ->
      """SELECT epoch_ms(date_trunc('day', ts)) AS window_start_ms,
        |  'user' || (user_id % 25) AS email,
        |  COUNT(DISTINCT '10.1.' || (event_id % 13) || '.1') AS n_src
        |FROM events WHERE event_type = 'error'
        |GROUP BY 1, 2
        |HAVING COUNT(*) >= 3
        |  AND COUNT(DISTINCT '10.1.' || (event_id % 13) || '.1') >= 3
        |ORDER BY 1, 2""".stripMargin,

    "q46_private_relay" ->
      """WITH f AS (
        |  SELECT user_id AS uid, ts, event_id AS seq,
        |    CASE WHEN event_type = 'signup' THEN 'fxa_rp_event'
        |      ELSE 'email_relay' END AS etype,
        |    'h' || (event_id % 3) AS real_address
        |  FROM events WHERE event_type IN ('signup', 'view', 'click')),
        |l AS (
        |  SELECT uid, ts, etype, real_address,
        |    LAG(real_address) OVER (
        |      PARTITION BY uid ORDER BY ts, seq) AS expected
        |  FROM f)
        |SELECT uid, epoch_ms(ts) AS ts_ms, real_address AS actual, expected
        |FROM l WHERE etype = 'email_relay' AND expected IS NOT NULL
        |  AND expected <> real_address
        |ORDER BY uid, ts_ms, actual""".stripMargin,

    "q47_monitored_activity" ->
      """SELECT epoch_ms(ts) AS ts_ms, 'user' || user_id AS email,
        |  '10.0.0.' || user_id AS src,
        |  CASE WHEN event_type = 'view' THEN 'loginSuccess'
        |    ELSE 'loginFailure' END AS action
        |FROM events
        |WHERE event_type IN ('view', 'error') AND user_id % 17 = 0
        |ORDER BY ts_ms, email, action""".stripMargin,

    "q49_auth_state" ->
      """WITH base AS (
        |  SELECT user_id AS uid, ts, event_id AS seq,
        |    '10.0.' || (user_id % 256) || '.' || (event_id % 4) AS addr,
        |    (event_id * 37 % 18000) / 100.0 - 90.0 AS lat,
        |    (event_id * 73 % 36000) / 100.0 - 180.0 AS lon
        |  FROM events),
        |l AS (
        |  SELECT uid, ts, addr,
        |    LAG(ts) OVER (
        |      PARTITION BY uid, addr ORDER BY ts, seq) AS same_prev_ts,
        |    LAG(addr) OVER w AS prev_addr, LAG(ts) OVER w AS prev_ts,
        |    LAG(lat) OVER w AS prev_lat, LAG(lon) OVER w AS prev_lon,
        |    lat, lon
        |  FROM base WINDOW w AS (PARTITION BY uid ORDER BY ts, seq)),
        |c AS (
        |  SELECT uid, epoch_ms(ts) AS ts_ms, addr, same_prev_ts, prev_ts,
        |    prev_addr,
        |    CASE WHEN same_prev_ts IS NULL AND prev_ts IS NOT NULL THEN
        |      CAST(FLOOR(2 * 6378.0 * asin(sqrt(
        |        pow(sin(radians(lat - prev_lat) / 2), 2) +
        |        cos(radians(prev_lat)) * cos(radians(lat)) *
        |        pow(sin(radians(lon - prev_lon) / 2), 2))) * 100 + 0.5)
        |        AS BIGINT) END AS km_centi
        |  FROM l)
        |SELECT uid AS user_id, ts_ms, addr,
        |  CASE WHEN same_prev_ts IS NOT NULL THEN 'known_ip'
        |    WHEN prev_ts IS NULL THEN 'unknown_ip_geo_failure'
        |    WHEN km_centi > 200000 THEN 'unknown_ip_outside_geo'
        |    ELSE 'unknown_ip_within_geo' END AS action,
        |  km_centi,
        |  CASE WHEN same_prev_ts IS NULL AND prev_ts IS NOT NULL
        |    THEN prev_addr END AS prev_addr
        |FROM c ORDER BY user_id, ts_ms, addr""".stripMargin,

    "q50_assume_role" ->
      """WITH base AS (
        |  SELECT 's' || (event_id // 2) AS sid, ts,
        |    event_id % 2 = 1 AS fixup, user_id % 2 = 0 AS xacct,
        |    'user' || user_id AS u
        |  FROM events),
        |trusted AS (SELECT sid, ts AS tts, u AS tu FROM base
        |  WHERE NOT fixup AND xacct),
        |trusting AS (SELECT sid, ts, u FROM base WHERE fixup)
        |SELECT g.sid AS shared_id, epoch_ms(g.ts) AS ts_ms,
        |  t.tu AS fixed_user
        |FROM trusting g JOIN trusted t USING (sid)
        |WHERE abs(epoch_us(g.ts) - epoch_us(t.tts)) <= 600000000
        |ORDER BY shared_id, ts_ms""".stripMargin,

    "q51_addon_multi_match" ->
      """WITH f AS (
        |  SELECT DISTINCT epoch_ms(date_trunc('day', ts)) AS w,
        |    'H' || (event_id % 8) AS h, 'user' || user_id AS e
        |  FROM events)
        |SELECT w AS window_start_ms, h AS upload_hash,
        |  COUNT(*) AS n_emails
        |FROM f GROUP BY 1, 2 HAVING COUNT(*) >= 5
        |ORDER BY 1, 2""".stripMargin,

    "q52_alias_abuse" ->
      """WITH f AS (
        |  SELECT ts,
        |    (CASE event_id % 3 WHEN 1 THEN 'u.ser' ELSE 'us.er' END)
        |      || user_id || '@x.com' AS email,
        |    'user' || user_id || '@x.com' AS norm
        |  FROM events WHERE event_id % 3 <> 0),
        |s AS (
        |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 86400000000
        |    THEN 1 ELSE 0 END AS ns
        |  FROM f WINDOW w AS (PARTITION BY norm ORDER BY ts)),
        |s2 AS (
        |  SELECT norm, ts, email, CAST(SUM(ns) OVER (
        |    PARTITION BY norm ORDER BY ts ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS sid
        |  FROM s)
        |SELECT norm AS email_normalized, sid AS session_id,
        |  COUNT(DISTINCT email) AS n_aliases,
        |  epoch_ms(MIN(ts)) AS session_start_ms
        |FROM s2 GROUP BY 1, 2 HAVING COUNT(DISTINCT email) > 1
        |ORDER BY 1, 2""".stripMargin,

    "q53_dedup_clusters" ->
      """WITH RECURSIVE w AS (SELECT doc_id,
        |    list_filter(string_split(lower(text),' '), t -> t <> '') ws
        |  FROM documents),
        |pos AS (SELECT doc_id, ws,
        |    unnest(generate_series(1, greatest(0, len(ws)-2))) i FROM w),
        |sh AS (SELECT DISTINCT doc_id,
        |    array_to_string(ws[i:i+2], ' ') s FROM pos),
        |n AS (SELECT doc_id, COUNT(*) n_sh FROM sh GROUP BY 1),
        |p AS (SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) shared
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM p
        |  JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b
        |  WHERE shared / (na.n_sh + nb.n_sh - shared) >= 0.5),
        |e AS (SELECT doc_a AS v, doc_b AS u FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT v, v AS r FROM (SELECT DISTINCT v FROM e)
        |  UNION
        |  SELECT e.v, reach.r FROM e JOIN reach ON reach.v = e.u)
        |SELECT v AS doc_id, MIN(r) AS cluster_id,
        |  v = MIN(r) AS is_survivor
        |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin,

    "q54_pioneer_exfil" ->
      """WITH f AS (SELECT user_id AS uid, ts, event_id AS seq,
        |    event_id % 1000 AS bytes FROM events),
        |s0 AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 172800000000
        |  THEN 1 ELSE 0 END AS ns
        |  FROM f WINDOW w AS (PARTITION BY uid ORDER BY ts)),
        |s AS (SELECT uid, ts, seq, bytes, CAST(SUM(ns) OVER (
        |    PARTITION BY uid ORDER BY ts ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS sid, epoch_ms(ts) AS ts_ms FROM s0),
        |r AS (SELECT *,
        |    CAST(SUM(bytes) OVER (PARTITION BY uid, sid ORDER BY ts_ms
        |      RANGE BETWEEN CURRENT ROW AND 86400000 FOLLOWING)
        |      AS BIGINT) AS wb,
        |    MAX(ts_ms) OVER (PARTITION BY uid, sid ORDER BY ts_ms
        |      RANGE BETWEEN CURRENT ROW AND 86400000 FOLLOWING) AS we
        |  FROM s),
        |q AS (SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY uid, sid ORDER BY ts, seq) AS rn
        |  FROM r WHERE wb >= 3000)
        |SELECT uid AS user_id, sid AS session_id, ts_ms AS start_ms,
        |  we AS end_ms, wb AS bytes
        |FROM q WHERE rn = 1 ORDER BY user_id, session_id""".stripMargin,

    "q55_aws_behavior" ->
      """SELECT * FROM (
        |  SELECT epoch_ms(ts) AS ts_ms, 'user' || user_id AS username,
        |    'access key created' AS description,
        |    'u' || user_id AS resource, 'critical' AS severity
        |  FROM events WHERE regexp_matches(event_type, 'purchase')
        |  UNION ALL
        |  SELECT epoch_ms(ts), 'user' || user_id,
        |    'console without mfa', NULL, 'critical'
        |  FROM events WHERE regexp_matches(event_type, 'signup|view')
        |    AND regexp_matches(CAST(event_id % 2 AS VARCHAR), '0')
        |) ORDER BY ts_ms, username, description""".stripMargin,

    "q56_endpoint_abuse" ->
      """WITH f AS (
        |  SELECT ts, '10.0.0.' || (user_id % 5) AS addr,
        |    CASE WHEN event_type = 'purchase' THEN 'POST'
        |      ELSE 'GET' END AS method,
        |    '/e/' || event_type AS path,
        |    'ua-' || (user_id % 5) AS ua
        |  FROM events
        |  WHERE event_type IN ('purchase', 'view')
        |     OR (event_type = 'click' AND user_id % 7 = 0)),
        |m AS (SELECT *, CASE
        |    WHEN method = 'POST' AND path = '/e/purchase' THEN 0
        |    WHEN method = 'GET' AND path = '/e/view' THEN 1 END AS mi,
        |  epoch_ms(date_trunc('day', ts)) AS w FROM f),
        |g AS (SELECT w AS window_start_ms, addr,
        |    COUNT(*) FILTER (mi = 0) AS n0,
        |    COUNT(*) FILTER (mi = 1) AS n1,
        |    MAX(CASE WHEN mi IS NOT NULL THEN epoch_ms(ts) END)
        |      AS latest_ts_ms,
        |    MAX(ua) FILTER (mi IS NOT NULL) AS useragent
        |  FROM m GROUP BY 1, 2
        |  HAVING COUNT(*) FILTER (mi IS NULL) = 0),
        |b AS (SELECT *, CASE
        |    WHEN n0 >= 2 AND (n1 < 4 OR n0 >= n1) THEN 0
        |    WHEN n1 >= 4 THEN 1 END AS best
        |  FROM g)
        |SELECT window_start_ms, addr,
        |  CASE best WHEN 0 THEN 'POST' ELSE 'GET' END AS endpoint_method,
        |  CASE best WHEN 0 THEN '/e/purchase' ELSE '/e/view' END
        |    AS endpoint_path,
        |  CASE best WHEN 0 THEN n0 ELSE n1 END AS n,
        |  latest_ts_ms, useragent
        |FROM b WHERE best IS NOT NULL ORDER BY 1, 2""".stripMargin,

    "q57_endpoint_error_rate" ->
      """WITH f AS (
        |  SELECT ts, '10.0.0.' || (user_id % 3) AS addr,
        |    '/api/' || (event_id % 3) || '/x' AS path
        |  FROM events WHERE event_type = 'error'),
        |g AS (SELECT epoch_ms(date_trunc('day', ts)) AS window_start_ms,
        |    addr,
        |    COUNT(*) FILTER (regexp_matches(path, '^/api/0/.*$')) AS n0,
        |    COUNT(*) FILTER (regexp_matches(path, '^/api/1/.*$')) AS n1,
        |    MAX(epoch_ms(ts)) FILTER (regexp_matches(path, '^/api/0/.*$'))
        |      AS t0,
        |    MAX(epoch_ms(ts)) FILTER (regexp_matches(path, '^/api/1/.*$'))
        |      AS t1
        |  FROM f GROUP BY 1, 2),
        |b AS (SELECT *, CASE
        |    WHEN n0 >= 2 AND (n1 < 3 OR n0 >= n1) THEN 0
        |    WHEN n1 >= 3 THEN 1 END AS best
        |  FROM g)
        |SELECT window_start_ms, addr, 'GET' AS rule_method,
        |  CASE best WHEN 0 THEN '^/api/0/.*$' ELSE '^/api/1/.*$' END
        |    AS rule_path,
        |  CASE best WHEN 0 THEN n0 ELSE n1 END AS n_errors,
        |  CASE best WHEN 0 THEN t0 ELSE t1 END AS latest_error_ms
        |FROM b WHERE best IS NOT NULL ORDER BY 1, 2""".stripMargin,

    "q58_ua_blocklist" ->
      """SELECT DISTINCT epoch_ms(date_trunc('day', ts)) AS window_start_ms,
        |  '10.0.0.' || user_id AS addr,
        |  'bot-' || (user_id % 11) AS useragent
        |FROM events WHERE event_type = 'click' AND user_id % 10 <> 0
        |ORDER BY 1, 2, 3""".stripMargin,

    "q59_alert_summary" ->
      """WITH base AS (
        |  SELECT ts, 'r' || (user_id % 3) AS r, event_type AS c,
        |    'sub' || (event_id % 2) AS s FROM events),
        |cls AS (SELECT ts,
        |    unnest(['*', r, r||'-'||c, r||'-'||c||'-'||s]) AS classifier
        |  FROM base),
        |counts AS (SELECT epoch_ms(date_trunc('day', ts)) AS w,
        |    classifier, COUNT(*) AS n FROM cls GROUP BY 1, 2),
        |d AS (SELECT *, LAG(n) OVER (
        |    PARTITION BY classifier ORDER BY w) AS prev_n FROM counts),
        |pct AS (SELECT classifier, w, n, prev_n,
        |    (n - prev_n) * 100.0 / prev_n AS pc
        |  FROM d WHERE prev_n IS NOT NULL),
        |thr(classifier, up, down, mn) AS (VALUES
        |  ('*', 5.0, 5.0, 100), ('r0', 20.0, 0.0, 10),
        |  ('r1-error', 0.0, 10.0, 5), ('r2-view-sub1', 30.0, 30.0, 3))
        |SELECT classifier, w AS window_start_ms, n, prev_n,
        |  pc AS pct_change
        |FROM pct JOIN thr USING (classifier)
        |WHERE n >= mn AND ((up > 0 AND pc >= up)
        |  OR (down > 0 AND pc <= -down))
        |ORDER BY classifier, window_start_ms""".stripMargin,

    "q60_url_dedup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'http://Example.COM'
        |      ELSE 'http://example.com' END)
        |    || '/p/' || source || '/' || (doc_id % 40)
        |    || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 5 = 0
        |          THEN '?utm_source=feed&ref=' || (doc_id % 4)
        |        WHEN doc_id % 5 = 1 THEN '?ref=' || (doc_id % 4)
        |        ELSE '' END)
        |    || (CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END) AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    split_part(url, '#', 1) AS nofrag,
        |    split_part(split_part(url, '#', 1), '?', 1) AS base
        |  FROM d),
        |c2 AS (
        |  SELECT doc_id, base,
        |    CASE WHEN contains(nofrag, '?')
        |      THEN substr(nofrag, length(base) + 2) ELSE '' END AS query,
        |    split_part(base, '://', 1) AS pre,
        |    CASE WHEN contains(base, '://')
        |      THEN substr(base, position('://' IN base) + 3)
        |      ELSE base END AS rest
        |  FROM c),
        |c3 AS (
        |  SELECT doc_id, pre, query,
        |    split_part(rest, '/', 1) AS host,
        |    regexp_replace(substr(rest, length(split_part(rest, '/', 1)) + 1),
        |      '/+$', '') AS path
        |  FROM c2),
        |c4 AS (
        |  SELECT doc_id,
        |    lower(pre) || '://' || lower(host) || path ||
        |    CASE WHEN len(list_sort(list_filter(string_split(query, '&'),
        |        p -> p <> '' AND NOT starts_with(p, 'utm_')))) > 0
        |      THEN '?' || array_to_string(list_sort(list_filter(
        |        string_split(query, '&'),
        |        p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&')
        |      ELSE '' END AS canonical_url
        |  FROM c3)
        |SELECT canonical_url, MIN(doc_id) AS canonical_id,
        |  COUNT(*) AS n_copies
        |FROM c4 GROUP BY 1 ORDER BY 1""".stripMargin,

    "q61_addon_multi_submit" ->
      """WITH f AS (SELECT DISTINCT epoch_ms(date_trunc('day', ts)) AS w,
        |  CASE WHEN (event_id * 97 % 50000) + 1 <= 3000 THEN NULL ELSE
        |    CASE WHEN ((event_id * 97 % 50000) + 1) % 10000 = 0
        |      THEN (event_id * 97 % 50000) + 1
        |      ELSE ((event_id * 97 % 50000) + 1) + 10000
        |        - ((event_id * 97 % 50000) + 1) % 10000 END
        |    END AS bucket,
        |  'user' || user_id AS e FROM events)
        |SELECT w AS window_start_ms, bucket AS size_bucket,
        |  COUNT(*) AS n_emails
        |FROM f WHERE bucket IS NOT NULL GROUP BY 1, 2
        |HAVING COUNT(*) >= 3 ORDER BY 1, 2""".stripMargin,

    "q64_corpus_curate" ->
      """WITH w AS (SELECT doc_id, CAST(length(text) AS BIGINT) n_chars,
        |    list_filter(string_split(lower(text),' '), t -> t <> '') ws
        |  FROM documents),
        |c AS (SELECT doc_id, n_chars, CAST(len(ws) AS BIGINT) n_tokens,
        |    CAST(len(list_filter(ws,
        |      t -> list_contains(['the','a','and','of','to','in'], t))) AS BIGINT) n_stop,
        |    ws FROM w),
        |ok AS (SELECT doc_id, n_tokens, ws FROM c WHERE n_tokens >= 10
        |  AND n_stop / n_tokens >= 0.01 AND n_stop / n_tokens <= 0.6
        |  AND (n_chars - (n_tokens - 1)) / n_tokens <= 12.0),
        |m AS (SELECT * FROM (VALUES
        |    ('db', ['query','table','join','filter','scan','index']),
        |    ('spark', ['spark','batch','stream','agg','vector','shuffle']),
        |    ('misc', ['the','a','fast','slow','small'])) AS t(class, words)),
        |s AS (SELECT c.doc_id, class,
        |    CAST(len(list_filter(c.ws, t -> list_contains(words, t))) AS BIGINT)
        |      / c.n_tokens AS score
        |  FROM c CROSS JOIN m),
        |cls AS (SELECT doc_id, class pred_class FROM (
        |  SELECT doc_id, class, ROW_NUMBER() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, class) rn FROM s)
        |  WHERE rn = 1),
        |d AS (SELECT md5(nfc_normalize(text)) h, min(doc_id) cid,
        |    count(*) n_copies
        |  FROM documents GROUP BY 1),
        |surv AS (SELECT doc_id, n_copies FROM documents
        |  JOIN d ON md5(nfc_normalize(text)) = h AND doc_id = cid)
        |SELECT doc_id, pred_class, n_tokens, n_copies
        |FROM ok JOIN cls USING (doc_id) JOIN surv USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q63_notify_render" ->
      """WITH a AS (SELECT epoch_ms(date_trunc('day', ts)) w, user_id u,
        |    COUNT(*) n
        |  FROM events GROUP BY 1, 2 HAVING COUNT(*) > 5),
        |r AS (SELECT w, u, n,
        |  'hard limit exceeded for user' || u || ': ' || n || ' requests' s
        |  FROM a)
        |SELECT w AS window_start_ms, u AS user_id,
        |  s || ' (hard_limit-' || w || '-' || u || ')' AS slack_text,
        |  s AS subject,
        |  s || chr(10) || chr(10) || 'Alert metadata:' || chr(10)
        |    || 'category = hard_limit' || chr(10)
        |    || 'username = user' || u || chr(10)
        |    || 'count = ' || n || chr(10) AS text_body,
        |  '<html><body><p>' || s || '</p><p>user=user' || u
        |    || ' count=' || n || '</p></body></html>' AS html_body
        |FROM r ORDER BY 1, 2""".stripMargin,

    "q62_embedding_neardup" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id,
        |    list_prepend(-embedding[1], embedding[2:]) AS embedding
        |  FROM embeddings WHERE vec_id % 4 = 0),
        |e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) qv
        |  FROM corpus),
        |ed AS (SELECT vec_id, generate_subscripts(qv, 1) d, unnest(qv) v FROM e),
        |nrm AS (SELECT vec_id, CAST(SUM(v*v) AS BIGINT) nrm FROM ed GROUP BY 1),
        |wts AS (SELECT p, d,
        |    (strpos('0123456789abcdef', md5(p || ':' || d)[1]) - 1)*2 - 15 AS w
        |  FROM (SELECT unnest(generate_series(0,3)) p)
        |  CROSS JOIN (SELECT unnest(generate_series(0,63)) d)),
        |pb AS (SELECT ed.vec_id, wts.p,
        |    CASE WHEN SUM(wts.w * ed.v) > 0
        |      THEN CAST(power(2, wts.p) AS BIGINT) ELSE 0 END bb
        |  FROM ed JOIN wts ON wts.d = ed.d - 1 GROUP BY 1, 2),
        |bk AS (SELECT vec_id, CAST(SUM(bb) AS BIGINT) bucket FROM pb GROUP BY 1),
        |cand AS (SELECT a.vec_id vec_a, b.vec_id vec_b FROM bk a
        |  JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
        |dots AS (SELECT c.vec_a, c.vec_b, CAST(SUM(ae.v * be.v) AS BIGINT) dot
        |  FROM cand c JOIN ed ae ON ae.vec_id = c.vec_a
        |    JOIN ed be ON be.vec_id = c.vec_b AND be.d = ae.d
        |  GROUP BY 1, 2),
        |scored AS (SELECT vec_a, vec_b,
        |    dot / sqrt(CAST(na.nrm * nb.nrm AS DOUBLE)) AS cosine
        |  FROM dots JOIN nrm na ON na.vec_id = vec_a
        |    JOIN nrm nb ON nb.vec_id = vec_b)
        |SELECT vec_a, vec_b, cosine FROM scored
        |WHERE cosine >= 0.875 ORDER BY vec_a, vec_b""".stripMargin,

    "q48_customs_summary" ->
      """SELECT (epoch_ms(ts) // 21600000) * 21600000 AS window_start_ms,
        |  CASE event_type WHEN 'error' THEN 'login_failure'
        |    WHEN 'signup' THEN 'account_create_success'
        |    ELSE 'login_success' END AS class,
        |  COUNT(*) AS n
        |FROM events WHERE event_type IN ('error', 'signup', 'view')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q66_ivf_refined" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) qv
        |  FROM embeddings),
        |ed AS (SELECT vec_id, generate_subscripts(qv, 1) d, unnest(qv) v FROM e),
        |nrm AS (SELECT vec_id, CAST(SUM(v*v) AS BIGINT) nrm FROM ed GROUP BY 1),
        |cd0 AS (SELECT vec_id AS cent_id, d, v FROM ed WHERE vec_id < 16),
        |cn0 AS (SELECT cent_id, CAST(SUM(v*v) AS BIGINT) nrm FROM cd0 GROUP BY 1),
        |x1 AS (SELECT ed.vec_id, cd0.cent_id, CAST(SUM(ed.v * cd0.v) AS BIGINT) dot
        |  FROM ed JOIN cd0 ON cd0.d = ed.d GROUP BY 1, 2),
        |s1 AS (SELECT x1.vec_id, x1.cent_id,
        |    dot / sqrt(CAST(na.nrm * cb.nrm AS DOUBLE)) AS c_cos
        |  FROM x1 JOIN nrm na ON na.vec_id = x1.vec_id
        |    JOIN cn0 cb ON cb.cent_id = x1.cent_id),
        |a1 AS (SELECT vec_id, cent_id AS cell FROM (
        |    SELECT vec_id, cent_id, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id ORDER BY c_cos DESC, cent_id) rn
        |    FROM s1) WHERE rn = 1),
        |cd1 AS (SELECT a.cell AS cent_id, ed.d,
        |    CAST(floor(CAST(SUM(ed.v) AS DOUBLE) / COUNT(*)) AS BIGINT) v
        |  FROM a1 a JOIN ed ON ed.vec_id = a.vec_id GROUP BY 1, 2),
        |cn1 AS (SELECT cent_id, CAST(SUM(v*v) AS BIGINT) nrm FROM cd1 GROUP BY 1),
        |x2 AS (SELECT ed.vec_id, cd1.cent_id, CAST(SUM(ed.v * cd1.v) AS BIGINT) dot
        |  FROM ed JOIN cd1 ON cd1.d = ed.d GROUP BY 1, 2),
        |s2 AS (SELECT x2.vec_id, x2.cent_id,
        |    dot / sqrt(CAST(na.nrm * cb.nrm AS DOUBLE)) AS c_cos
        |  FROM x2 JOIN nrm na ON na.vec_id = x2.vec_id
        |    JOIN cn1 cb ON cb.cent_id = x2.cent_id),
        |a2 AS (SELECT vec_id, cent_id AS cell FROM (
        |    SELECT vec_id, cent_id, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id ORDER BY c_cos DESC, cent_id) rn
        |    FROM s2) WHERE rn = 1),
        |cd2 AS (SELECT a.cell AS cent_id, ed.d,
        |    CAST(floor(CAST(SUM(ed.v) AS DOUBLE) / COUNT(*)) AS BIGINT) v
        |  FROM a2 a JOIN ed ON ed.vec_id = a.vec_id GROUP BY 1, 2),
        |cn2 AS (SELECT cent_id, CAST(SUM(v*v) AS BIGINT) nrm FROM cd2 GROUP BY 1),
        |x3 AS (SELECT ed.vec_id, cd2.cent_id, CAST(SUM(ed.v * cd2.v) AS BIGINT) dot
        |  FROM ed JOIN cd2 ON cd2.d = ed.d GROUP BY 1, 2),
        |s3 AS (SELECT x3.vec_id, x3.cent_id,
        |    dot / sqrt(CAST(na.nrm * cb.nrm AS DOUBLE)) AS c_cos
        |  FROM x3 JOIN nrm na ON na.vec_id = x3.vec_id
        |    JOIN cn2 cb ON cb.cent_id = x3.cent_id),
        |a3 AS (SELECT vec_id, cent_id AS cell FROM (
        |    SELECT vec_id, cent_id, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id ORDER BY c_cos DESC, cent_id) rn
        |    FROM s3) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, cell FROM a3 WHERE vec_id IN (0,1,2,3,4)),
        |cand AS (SELECT q.query_id, c.vec_id FROM q
        |  JOIN a3 c ON c.cell = q.cell WHERE c.vec_id <> q.query_id),
        |dots AS (SELECT c.query_id, c.vec_id, CAST(SUM(qe.v * ce.v) AS BIGINT) dot
        |  FROM cand c JOIN ed qe ON qe.vec_id = c.query_id
        |    JOIN ed ce ON ce.vec_id = c.vec_id AND ce.d = qe.d
        |  GROUP BY 1, 2),
        |scored AS (SELECT query_id, dots.vec_id AS vec_id,
        |    dot / sqrt(CAST(na.nrm * nb.nrm AS DOUBLE)) AS cosine
        |  FROM dots JOIN nrm na ON na.vec_id = query_id
        |    JOIN nrm nb ON nb.vec_id = dots.vec_id),
        |r AS (SELECT query_id, vec_id, cosine, ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, vec_id, cosine FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q69_sequence_abuse" ->
      """WITH tagged AS (
        |  SELECT user_id, epoch_ms(ts) AS ms, event_id,
        |    event_type = 'click' AS is_first,
        |    event_type = 'error' AS is_second
        |  FROM events WHERE event_type IN ('click', 'error')),
        |scanned AS (
        |  SELECT user_id, ms, is_second,
        |    MAX(CASE WHEN is_first THEN ms END) OVER (
        |      PARTITION BY user_id
        |      ORDER BY ms, is_first DESC, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS last_first_ms
        |  FROM tagged)
        |SELECT user_id, COUNT(*) AS n, MAX(ms) AS latest_ms
        |FROM scanned
        |WHERE is_second AND ms < last_first_ms + 3600000
        |GROUP BY user_id HAVING COUNT(*) >= 1
        |ORDER BY user_id""".stripMargin,

    "q68_acct_creation_dist" ->
      """WITH creations AS (
        |  SELECT DISTINCT
        |    epoch_ms(ts) // 86400000 * 86400000 AS window_start_ms,
        |    'u' || (event_id % 30) || '@d' || (user_id % 3) || '.com' AS email,
        |    '10.0.0.' || (event_id % 11) AS src,
        |    'd' || (user_id % 3) || '.com' AS domain,
        |    'u' || (event_id % 30) AS local
        |  FROM events WHERE event_type = 'signup'),
        |pairs AS (
        |  SELECT a.window_start_ms, a.domain, a.email, a.src,
        |    b.email AS email_b, b.src AS src_b
        |  FROM creations a JOIN creations b
        |    ON a.window_start_ms = b.window_start_ms AND a.domain = b.domain
        |  WHERE a.email <> b.email
        |    AND levenshtein(a.local, b.local) <=
        |      greatest(length(a.local), length(b.local)) * 0.35),
        |agg AS (
        |  SELECT window_start_ms, domain, email, src,
        |    COUNT(*) AS n_similar,
        |    MAX(CASE WHEN src_b <> src THEN 1 ELSE 0 END) AS addr_variance,
        |    string_agg(email_b, ', ' ORDER BY email_b) AS email_similar
        |  FROM pairs GROUP BY 1, 2, 3, 4)
        |SELECT window_start_ms, email, src, n_similar + 1 AS n, email_similar
        |FROM agg WHERE addr_variance = 1 AND n_similar >= 3
        |ORDER BY window_start_ms, email, src""".stripMargin,

    "q67_watchlist" ->
      """WITH alerts AS (SELECT epoch_ms(ts) AS ts_ms, event_id,
        |    'user' || user_id AS email,
        |    '10.0.0.' || (user_id % 256) AS src
        |  FROM events WHERE event_type = 'error'),
        |wip AS (SELECT DISTINCT '10.0.0.' || (range % 256) AS value,
        |    'warn' AS severity_override FROM range(0, 640, 13)),
        |wem AS (SELECT DISTINCT 'user' || range AS value,
        |    'critical' AS severity_override FROM range(0, 10000, 29)),
        |ip AS (SELECT a.ts_ms, a.event_id, a.email, a.src,
        |    w.severity_override, 'ip' AS kind
        |  FROM alerts a JOIN wip w ON a.src = w.value),
        |em AS (SELECT a.ts_ms, a.event_id, a.email, a.src,
        |    w.severity_override, 'email' AS kind
        |  FROM alerts a JOIN wem w ON a.email = w.value)
        |SELECT * FROM ip UNION ALL SELECT * FROM em
        |ORDER BY kind, ts_ms, event_id""".stripMargin,

    // multi-plane-set near-dup: per-set buckets from salted md5
    // weights (set 0 salt '', set s salt 's:'), candidates = pairs
    // equal in ANY set's bucket, deduped, then one exact verify
    "q70_embedding_neardup_multi" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id,
        |    list_prepend(-embedding[1], embedding[2:]) AS embedding
        |  FROM embeddings WHERE vec_id % 4 = 0),
        |e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) qv
        |  FROM corpus),
        |ed AS (SELECT vec_id, generate_subscripts(qv, 1) d, unnest(qv) v FROM e),
        |nrm AS (SELECT vec_id, CAST(SUM(v*v) AS BIGINT) nrm FROM ed GROUP BY 1),
        |wts AS (SELECT s, p, d,
        |    (strpos('0123456789abcdef',
        |       md5((CASE WHEN s = 0 THEN '' ELSE s || ':' END)
        |         || p || ':' || d)[1]) - 1)*2 - 15 AS w
        |  FROM (SELECT unnest(generate_series(0,1)) s)
        |  CROSS JOIN (SELECT unnest(generate_series(0,3)) p)
        |  CROSS JOIN (SELECT unnest(generate_series(0,63)) d)),
        |pb AS (SELECT wts.s, ed.vec_id, wts.p,
        |    CASE WHEN SUM(wts.w * ed.v) > 0
        |      THEN CAST(power(2, wts.p) AS BIGINT) ELSE 0 END bb
        |  FROM ed JOIN wts ON wts.d = ed.d - 1 GROUP BY 1, 2, 3),
        |bk AS (SELECT s, vec_id, CAST(SUM(bb) AS BIGINT) bucket
        |  FROM pb GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.vec_id vec_a, b.vec_id vec_b FROM bk a
        |  JOIN bk b ON a.s = b.s AND a.bucket = b.bucket
        |    AND a.vec_id < b.vec_id),
        |dots AS (SELECT c.vec_a, c.vec_b, CAST(SUM(ae.v * be.v) AS BIGINT) dot
        |  FROM cand c JOIN ed ae ON ae.vec_id = c.vec_a
        |    JOIN ed be ON be.vec_id = c.vec_b AND be.d = ae.d
        |  GROUP BY 1, 2),
        |scored AS (SELECT vec_a, vec_b,
        |    dot / sqrt(CAST(na.nrm * nb.nrm AS DOUBLE)) AS cosine
        |  FROM dots JOIN nrm na ON na.vec_id = vec_a
        |    JOIN nrm nb ON nb.vec_id = vec_b)
        |SELECT vec_a, vec_b, cosine FROM scored
        |WHERE cosine >= 0.875 ORDER BY vec_a, vec_b""".stripMargin,

    // sliding pane compare: slot = 15-min half-block; each event is
    // the OLD half of the window at its slot and the NEW half of the
    // window one half earlier; trunc() matches Spark's int cast
    // (toward zero), where a bare DuckDB INTEGER cast would round
    "q71_alert_summary_panes" ->
      """WITH e AS (
        |  SELECT epoch_ms(ts) AS ms,
        |    CASE WHEN user_id % 3 <> 0 THEN 'r' || (user_id % 2) END AS mr,
        |    event_type AS cat,
        |    CASE WHEN event_id % 2 = 0 THEN 'sub' END AS subcat
        |  FROM events),
        |cl AS (
        |  SELECT ms, '*' AS classifier FROM e
        |  UNION ALL SELECT ms, mr FROM e WHERE mr IS NOT NULL
        |  UNION ALL SELECT ms, cat FROM e WHERE mr IS NOT NULL
        |  UNION ALL SELECT ms, mr || '-' || cat FROM e WHERE mr IS NOT NULL
        |  UNION ALL SELECT ms, mr || '-' || cat || '-' || subcat FROM e
        |    WHERE mr IS NOT NULL AND subcat IS NOT NULL),
        |panes AS (
        |  SELECT (ms // 900000) * 900000 AS ws, classifier,
        |    TRUE AS is_old FROM cl
        |  UNION ALL
        |  SELECT (ms // 900000) * 900000 - 900000 AS ws, classifier,
        |    FALSE AS is_old FROM cl),
        |agg AS (
        |  SELECT ws AS window_start_ms, classifier,
        |    COUNT(*) FILTER (is_old) AS old_n,
        |    COUNT(*) FILTER (NOT is_old) AS new_n
        |  FROM panes GROUP BY 1, 2
        |  HAVING COUNT(*) FILTER (is_old) > 0
        |    AND COUNT(*) FILTER (NOT is_old) > 0),
        |thr AS (SELECT * FROM (VALUES
        |  ('*', 10, 10, 2), ('r1', 10, 10, 2), ('r0-view', 10, 10, 2))
        |  t(classifier, pct_up, pct_down, min_count))
        |SELECT a.classifier, window_start_ms, old_n, new_n
        |FROM agg a JOIN thr USING (classifier)
        |WHERE new_n >= min_count AND (
        |  (pct_up > 0 AND
        |    CAST(trunc((new_n - old_n) * 100.0 / old_n) AS INTEGER) > pct_up)
        |  OR (pct_down > 0 AND
        |    CAST(trunc((old_n - new_n) * 100.0 / old_n) AS INTEGER) > pct_down))
        |ORDER BY classifier, window_start_ms""".stripMargin,

    "q72_amo_multi_ip_login" ->
      """WITH src AS (
        |  SELECT 'user' || user_id AS email, ts,
        |    '10.1.' || (event_id % 7) || '.1' AS addr,
        |    'C' || (event_id % 3) AS country
        |  FROM events WHERE event_type = 'view'
        |    AND NOT regexp_full_match('user' || user_id, 'user1\d')),
        |t AS (
        |  SELECT *, CASE WHEN
        |      lag(ts) OVER (PARTITION BY email ORDER BY ts) IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER (
        |        PARTITION BY email ORDER BY ts)) >= 86400000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM src),
        |s AS (
        |  SELECT *, CAST(SUM(new_s) OVER (
        |    PARTITION BY email ORDER BY ts ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS session_id
        |  FROM t)
        |SELECT email, epoch_ms(MIN(ts)) AS session_start_ms,
        |  COUNT(DISTINCT country) AS n_countries,
        |  COUNT(DISTINCT addr) AS n_addrs
        |FROM s GROUP BY email, session_id
        |HAVING COUNT(DISTINCT country) >= 2
        |  AND (regexp_full_match(email, 'user[0-4]')
        |    OR COUNT(DISTINCT addr) >= 3)
        |ORDER BY email, session_start_ms""".stripMargin
    )
    val extra = Map(
    "q73_path_variance" ->
      """WITH f AS (SELECT CAST(user_id AS VARCHAR) AS key,
        |    '/p/' || (event_id % 5) AS path,
        |    CASE WHEN event_id % 3 = 0 THEN 200 ELSE 404 END AS status
        |  FROM events),
        |g AS (SELECT key, COUNT(DISTINCT path) AS n_paths,
        |    COUNT(DISTINCT CASE WHEN status = 200 THEN path END)
        |      AS n_success_paths
        |  FROM f GROUP BY 1)
        |SELECT key, n_paths, n_success_paths,
        |  CASE WHEN n_paths > 1
        |    THEN LEAST(n_paths + 10 * n_success_paths, 100) ELSE 0
        |    END AS variance_index,
        |  CASE WHEN n_paths > 1
        |    THEN LEAST(n_paths + 10 * n_success_paths, 100) ELSE 0
        |    END >= 33 AS nominal
        |FROM g ORDER BY key""".stripMargin,

    "q74_watchlist_scan" ->
      """WITH al AS (SELECT 'a' || event_id AS alert_id,
        |    'u' || (user_id % 97) || '@x.com, u' || (event_id % 97)
        |      || '@x.com' AS email,
        |    'name' || (user_id % 53) AS username,
        |    '10.2.' || (event_id % 40) || '.9' AS src FROM events),
        |kd AS (
        |  SELECT alert_id, 'email' AS mkey, trim(x) AS val,
        |    'email' AS kind
        |  FROM al, unnest(string_split(email, ',')) AS t(x)
        |  UNION ALL
        |  SELECT alert_id, 'username', username, 'email' FROM al
        |  UNION ALL
        |  SELECT alert_id, 'sourceaddress', src, 'ip' FROM al),
        |wl AS (
        |  SELECT 'email' AS kind, 'u' || i || '@x.com' AS object,
        |    'warn' AS severity, 'ops' AS created_by
        |  FROM range(0, 97, 13) t(i)
        |  UNION ALL
        |  SELECT 'ip', '10.2.' || i || '.9', 'critical', 'sec'
        |  FROM range(0, 40, 7) t(i))
        |SELECT 'postprocessing' AS category, 'watchlist' AS subcategory,
        |  'matched watchlist object found in alert ' || alert_id AS summary,
        |  severity,
        |  CASE severity WHEN 'warn' THEN 'warn@x.com'
        |    WHEN 'critical' THEN 'crit@x.com' END AS notify_email_direct,
        |  alert_id AS source_alert, mkey AS matched_metadata_key,
        |  val AS matched_metadata_value, wl.kind AS matched_type,
        |  object AS matched_object, created_by AS watchlist_created_by
        |FROM kd JOIN wl ON kd.kind = wl.kind AND kd.val = wl.object
        |ORDER BY source_alert, matched_metadata_key,
        |  matched_metadata_value, matched_type""".stripMargin,

    "q75_endpoint_error_sessions" ->
      """WITH f AS (SELECT ts, '10.3.0.' || (user_id % 7) AS addr,
        |    '/api/' || (event_id % 4) || '/x' AS path
        |  FROM events WHERE event_type = 'error'),
        |s0 AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 3600000000
        |  THEN 1 ELSE 0 END AS ns
        |  FROM f WINDOW w AS (PARTITION BY addr ORDER BY ts)),
        |s AS (SELECT addr, ts, path, CAST(SUM(ns) OVER (
        |    PARTITION BY addr ORDER BY ts ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS session_id FROM s0),
        |g AS (SELECT addr, session_id,
        |    COUNT(CASE WHEN regexp_full_match(path, '/api/[01]/.*')
        |      THEN 1 END) AS n0,
        |    COUNT(CASE WHEN regexp_full_match(path, '/api/.*')
        |      THEN 1 END) AS n1,
        |    epoch_ms(MAX(CASE WHEN regexp_full_match(path, '/api/[01]/.*')
        |      THEN ts END)) AS t0,
        |    epoch_ms(MAX(CASE WHEN regexp_full_match(path, '/api/.*')
        |      THEN ts END)) AS t1,
        |    epoch_ms(MAX(ts)) AS last_ms
        |  FROM s GROUP BY 1, 2),
        |q AS (SELECT *,
        |    CASE WHEN n0 >= 2 THEN n0 END AS q0,
        |    CASE WHEN n1 >= 2 THEN n1 END AS q1 FROM g),
        |b AS (SELECT *,
        |    GREATEST(COALESCE(q0, -1), COALESCE(q1, -1)) AS maxq,
        |    CASE WHEN q0 IS NOT NULL
        |        AND q0 = GREATEST(COALESCE(q0, -1), COALESCE(q1, -1))
        |      THEN 0
        |      WHEN q1 IS NOT NULL
        |        AND q1 = GREATEST(COALESCE(q0, -1), COALESCE(q1, -1))
        |      THEN 1 END AS best
        |  FROM q)
        |SELECT addr, session_id, 'GET' AS rule_method,
        |  CASE best WHEN 0 THEN '/api/[01]/.*' ELSE '/api/.*'
        |    END AS rule_path,
        |  CASE best WHEN 0 THEN n0 ELSE n1 END AS n_errors,
        |  CASE best WHEN 0 THEN t0 ELSE t1 END AS latest_error_ms,
        |  last_ms + 3600000 - 1 AS window_max_ts_ms
        |FROM b WHERE best IS NOT NULL
        |ORDER BY addr, session_id""".stripMargin,

    "q78_endpoint_abuse_sessions" ->
      """WITH f AS (SELECT ts,
        |    '10.4.0.' || (user_id % 5) AS addr,
        |    CASE WHEN event_type = 'purchase' THEN 'POST'
        |      ELSE 'GET' END AS method,
        |    '/e/' || event_type AS path,
        |    'ua-' || (user_id % 5) AS ua
        |  FROM events
        |  WHERE event_type IN ('view', 'purchase')
        |     OR (event_type = 'click' AND user_id % 7 = 0)),
        |m AS (SELECT *, CASE
        |    WHEN method = 'GET' AND path = '/e/view' THEN 0
        |    WHEN method = 'POST' AND path = '/e/purchase' THEN 1
        |    END AS mi FROM f),
        |s0 AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 3600000000
        |  THEN 1 ELSE 0 END AS ns
        |  FROM m WINDOW w AS (PARTITION BY addr ORDER BY ts)),
        |s AS (SELECT addr, ts, mi, ua, CAST(SUM(ns) OVER (
        |    PARTITION BY addr ORDER BY ts ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS session_id FROM s0),
        |g AS (SELECT addr, session_id,
        |    COUNT(CASE WHEN mi = 0 THEN 1 END) AS n0,
        |    COUNT(CASE WHEN mi = 1 THEN 1 END) AS n1,
        |    COUNT(CASE WHEN mi IS NULL THEN 1 END) AS nv,
        |    epoch_ms(MAX(CASE WHEN mi IS NOT NULL THEN ts END))
        |      AS latest_ts_ms,
        |    MAX(CASE WHEN mi IS NOT NULL THEN ua END) AS useragent,
        |    epoch_ms(MAX(ts)) AS last_ms
        |  FROM s GROUP BY 1, 2),
        |q AS (SELECT *,
        |    CASE WHEN n0 >= 2 THEN n0 END AS q0,
        |    CASE WHEN n1 >= 2 THEN n1 END AS q1
        |  FROM g WHERE nv = 0),
        |b AS (SELECT *,
        |    CASE WHEN q0 IS NOT NULL
        |        AND q0 = GREATEST(COALESCE(q0, -1), COALESCE(q1, -1))
        |      THEN 0
        |      WHEN q1 IS NOT NULL
        |        AND q1 = GREATEST(COALESCE(q0, -1), COALESCE(q1, -1))
        |      THEN 1 END AS best
        |  FROM q)
        |SELECT addr, session_id,
        |  CASE best WHEN 0 THEN 'GET' ELSE 'POST' END AS endpoint_method,
        |  CASE best WHEN 0 THEN '/e/view' ELSE '/e/purchase'
        |    END AS endpoint_path,
        |  CASE best WHEN 0 THEN n0 ELSE n1 END AS n,
        |  latest_ts_ms, useragent,
        |  last_ms + 3600000 - 1 AS window_max_ts_ms
        |FROM b WHERE best IS NOT NULL
        |ORDER BY addr, session_id""".stripMargin,

    "q80_http_pipeline" ->
      """WITH base AS (SELECT ts,
        |    '10.0.0.' || (user_id % 37) AS addr,
        |    'ua-' || user_id AS ua,
        |    CASE WHEN event_type = 'error' THEN 404 ELSE 200 END AS status
        |  FROM events),
        |w AS (SELECT epoch_ms(date_trunc('day', ts)) AS wms, addr, ua,
        |    status, ts FROM base),
        |per_key AS (SELECT wms, addr, COUNT(*) AS n FROM w GROUP BY 1, 2),
        |nat AS (SELECT wms, addr FROM (
        |    SELECT wms, addr, COUNT(DISTINCT ua) AS du
        |    FROM w GROUP BY 1, 2) WHERE du >= 4),
        |gated AS (SELECT k.* FROM per_key k
        |  LEFT JOIN nat USING (wms, addr) WHERE nat.addr IS NULL),
        |mean AS (SELECT wms, AVG(n) AS mean_n FROM per_key GROUP BY 1),
        |hard AS (SELECT 'hard_limit_exceeded' AS summary,
        |    'httprequest' AS category, 'hard_limit' AS subcategory,
        |    'warn' AS severity, addr AS sourceaddress,
        |    CAST(n AS BIGINT) AS count, wms AS window_start_ms
        |  FROM gated WHERE n > 5),
        |thr AS (SELECT 'threshold_exceeded', 'httprequest', 'threshold',
        |    'warn', g.addr, CAST(g.n AS BIGINT), g.wms
        |  FROM gated g JOIN mean m ON m.wms = g.wms
        |  WHERE g.n >= m.mean_n * 1.5),
        |err AS (SELECT 'error_rate_exceeded', 'httprequest', 'error_rate',
        |    'warn', addr, CAST(COUNT(*) AS BIGINT), wms
        |  FROM w WHERE status BETWEEN 400 AND 499
        |  GROUP BY addr, wms HAVING COUNT(*) > 2),
        |s0 AS (SELECT addr, ts, CASE WHEN lag(ts) OVER sw IS NULL
        |    OR epoch_ms(ts) - epoch_ms(lag(ts) OVER sw) >= 2700000
        |  THEN 1 ELSE 0 END AS ns
        |  FROM base WINDOW sw AS (PARTITION BY addr ORDER BY ts)),
        |s1 AS (SELECT addr, CAST(SUM(ns) OVER (
        |    PARTITION BY addr ORDER BY ts ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS sid FROM s0),
        |sg AS (SELECT addr, sid, COUNT(*) AS n FROM s1 GROUP BY 1, 2),
        |sess AS (SELECT 'session_limit_exceeded', 'httprequest',
        |    'session_limit', 'critical', addr,
        |    CAST(MAX(n) AS BIGINT), CAST(NULL AS BIGINT)
        |  FROM sg GROUP BY addr HAVING MAX(n) >= 3)
        |SELECT * FROM hard UNION ALL SELECT * FROM thr
        |UNION ALL SELECT * FROM err UNION ALL SELECT * FROM sess
        |ORDER BY subcategory, sourceaddress, window_start_ms""".stripMargin,

    "q79_notify_merge" ->
      """WITH al AS (SELECT
        |    'alert for user ' || user_id || ' ev ' || event_id AS summary,
        |    CASE WHEN event_id % 5 <> 0
        |      THEN 'k' || (user_id % 100) END AS mk
        |  FROM events),
        |g AS (SELECT mk, MIN(summary) AS summary, COUNT(*) AS n
        |  FROM al WHERE mk IS NOT NULL GROUP BY mk)
        |SELECT summary, mk, CAST(NULL AS BIGINT) AS notify_merged_count
        |FROM al WHERE mk IS NULL
        |UNION ALL
        |SELECT CASE WHEN n > 1
        |    THEN summary || ' (' || (n - 1) || ' similar alerts)'
        |    ELSE summary END AS summary,
        |  mk,
        |  CASE WHEN n > 1 THEN n END AS notify_merged_count
        |FROM g
        |ORDER BY summary, mk""".stripMargin,

    "q77_suppress_session" ->
      """WITH t AS (SELECT CAST(user_id AS VARCHAR) AS key,
        |    epoch_us(ts) AS ts_us FROM events),
        |s AS (SELECT key, ts_us,
        |    lag(ts_us) OVER (PARTITION BY key ORDER BY ts_us) AS prev
        |  FROM t)
        |SELECT key, ts_us FROM s
        |WHERE prev IS NULL OR ts_us - prev > 1800000000
        |ORDER BY key, ts_us""".stripMargin,

    "q81_at_risk_failure" ->
      """WITH ev AS (
        |  SELECT epoch_ms(ts) AS ts_ms, event_type,
        |    'user' || (user_id % 500) AS email,
        |    CASE WHEN event_type = 'click' AND event_id % 7 = 0
        |      THEN '10.9.0.' || (event_id % 3 + 1)
        |      ELSE '10.0.0.' || (user_id % 50) END AS src
        |  FROM events),
        |flags AS (
        |  SELECT email, MIN(ts_ms) AS flag_ms FROM ev
        |  WHERE event_type = 'click'
        |    AND src IN ('10.9.0.1', '10.9.0.2', '10.9.0.3')
        |  GROUP BY email)
        |SELECT e.ts_ms, e.email, e.src
        |FROM ev e JOIN flags f USING (email)
        |WHERE e.event_type = 'error' AND e.ts_ms >= f.flag_ms
        |ORDER BY e.ts_ms, e.email, e.src""".stripMargin,

    "q82_pii_scrub" ->
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' contact user' ||
        |      doc_id || '@example.com or 555-' ||
        |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
        |      '-1234 ip 10.0.' || (doc_id % 256) || '.7 ssn 123-45-6789'
        |    ELSE text END AS t2
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    len(regexp_extract_all(t2,
        |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_email,
        |    len(regexp_extract_all(t2,
        |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ipv4,
        |    len(regexp_extract_all(t2,
        |      '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) AS n_phone,
        |    len(regexp_extract_all(t2,
        |      '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS n_ssn,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(t2,
        |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
        |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IPV4]', 'g'),
        |      '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '[PHONE]', 'g'),
        |      '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '[SSN]', 'g') AS scrubbed
        |  FROM d)
        |SELECT doc_id, n_email, n_ipv4, n_phone, n_ssn, scrubbed,
        |  n_email + n_ipv4 + n_phone + n_ssn AS n_pii,
        |  (n_email + n_ipv4 + n_phone + n_ssn) > 0 AS has_pii
        |FROM c ORDER BY doc_id""".stripMargin,

    "q83_decontaminate" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split(lower(text),' '), t -> t <> '') ws
        |  FROM documents),
        |pos AS (SELECT doc_id, ws,
        |    unnest(generate_series(1, greatest(0, len(ws)-2))) i FROM w),
        |sh AS (SELECT DISTINCT doc_id,
        |    array_to_string(ws[i:i+2], ' ') s FROM pos),
        |bsh AS (SELECT doc_id + 1000000 AS bench_id, s FROM sh
        |  WHERE doc_id % 97 = 0),
        |bn AS (SELECT bench_id, COUNT(*) AS n_bench_sh FROM bsh GROUP BY 1),
        |ov AS (SELECT c.doc_id AS corpus_id, b.bench_id, COUNT(*) AS n_overlap
        |  FROM sh c JOIN bsh b ON c.s = b.s GROUP BY 1, 2)
        |SELECT bench_id, corpus_id, n_overlap, n_bench_sh,
        |  n_overlap / n_bench_sh AS overlap_frac
        |FROM ov JOIN bn USING (bench_id)
        |WHERE n_overlap / n_bench_sh >= 0.5
        |ORDER BY corpus_id, bench_id""".stripMargin,

    "q135_stop_quantiles" ->
      """WITH w AS (SELECT doc_id, CAST(length(text) AS BIGINT) n_chars,
        |    list_filter(string_split(lower(text),' '), t -> t <> '') ws
        |  FROM documents),
        |c AS (SELECT doc_id, CAST(len(ws) AS BIGINT) n_tokens,
        |    CAST(len(list_filter(ws,
        |      t -> list_contains(['the','a','and','of','to','in'], t)))
        |      AS BIGINT) n_stop
        |  FROM w),
        |v AS (SELECT d.source AS stratum,
        |    CAST(n_stop * 1000 // n_tokens AS BIGINT) AS v
        |  FROM c JOIN documents d USING (doc_id) WHERE n_tokens >= 1),
        |h AS (SELECT stratum, v, COUNT(*) f FROM v GROUP BY 1, 2),
        |cm AS (SELECT stratum, v, f,
        |    CAST(SUM(f) OVER (PARTITION BY stratum ORDER BY v)
        |      AS BIGINT) cum,
        |    CAST(SUM(f) OVER (PARTITION BY stratum) AS BIGINT) n_rows,
        |    CAST(SUM(f*v) OVER (PARTITION BY stratum) AS BIGINT) sum_v
        |  FROM h)
        |SELECT stratum, MAX(n_rows) n_rows,
        |  MAX(sum_v) // MAX(n_rows) AS mean_v,
        |  MIN(CASE WHEN cum*100 >= n_rows*50 THEN v END) p50,
        |  MIN(CASE WHEN cum*100 >= n_rows*90 THEN v END) p90,
        |  MIN(CASE WHEN cum*100 >= n_rows*99 THEN v END) p99,
        |  MAX(v) max_v
        |FROM cm GROUP BY 1 ORDER BY 1""".stripMargin,

    "q137_dup_hubs" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split(lower(text),' '), t -> t <> '') ws
        |  FROM documents),
        |pos AS (SELECT doc_id, ws,
        |    unnest(generate_series(1, greatest(0, len(ws)-2))) i FROM w),
        |sh AS (SELECT DISTINCT doc_id,
        |    array_to_string(ws[i:i+2], ' ') s FROM pos),
        |hs AS (SELECT doc_id, md5('1:' || s) || md5('2:' || s) h FROM sh),
        |sigs AS (SELECT doc_id, k, MIN(substr(h, k*4 + 1, 4)) sig
        |  FROM hs CROSS JOIN (SELECT unnest(generate_series(0,15)) k) t
        |  GROUP BY 1, 2),
        |bands AS (SELECT doc_id, k//2 AS band,
        |    md5(string_agg(sig, '|' ORDER BY k)) bkey
        |  FROM sigs GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT x.doc_id doc_a, y.doc_id doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
        |m AS (SELECT doc_a, doc_b,
        |    COUNT(*) FILTER (sa.sig = sb.sig) AS n_match
        |  FROM cand JOIN sigs sa ON sa.doc_id = doc_a
        |    JOIN sigs sb ON sb.doc_id = doc_b AND sb.k = sa.k
        |  GROUP BY 1, 2),
        |p AS (SELECT doc_a, doc_b, n_match / 16.0 AS est FROM m
        |  WHERE n_match / 16.0 >= 0.5),
        |sym AS (SELECT doc_a AS doc_id, est FROM p
        |  UNION ALL SELECT doc_b, est FROM p)
        |SELECT doc_id, COUNT(*) n_partners, MAX(est) max_est
        |FROM sym GROUP BY 1 HAVING COUNT(*) >= 1
        |ORDER BY doc_id""".stripMargin,

    "q133_corpus_diff" ->
      """WITH o AS (SELECT doc_id, md5(text) old_md5 FROM documents),
        |n0 AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |      THEN text || ' [rev2]' ELSE text END AS text
        |    FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL SELECT doc_id + 2000000, text FROM documents
        |    WHERE doc_id % 11 = 0),
        |n AS (SELECT doc_id, md5(text) new_md5 FROM n0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |    WHEN n.doc_id IS NULL THEN 'removed'
        |    WHEN old_md5 = new_md5 THEN 'unchanged'
        |    ELSE 'changed' END AS status,
        |  old_md5, new_md5
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,

    "q134_script_mix" ->
      """WITH d AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' 你好世界机器学习'
        |      WHEN doc_id % 5 = 1 THEN ' Привет мир'
        |      WHEN doc_id % 5 = 2 THEN ' 1234567890'
        |      ELSE '' END AS t2
        |  FROM documents),
        |cp AS (SELECT doc_id, list_transform(
        |    list_filter(string_split_regex(t2, ''), c -> c <> ''),
        |    c -> unicode(c)) AS cps
        |  FROM d),
        |ct AS (SELECT doc_id, CAST(len(cps) AS BIGINT) n_cp,
        |    CAST(len(list_filter(cps, c -> (c BETWEEN 65 AND 90)
        |      OR (c BETWEEN 97 AND 122)
        |      OR (c BETWEEN 192 AND 591))) AS BIGINT) n_latin,
        |    CAST(len(list_filter(cps, c -> c BETWEEN 48 AND 57))
        |      AS BIGINT) n_digit,
        |    CAST(len(list_filter(cps, c -> c BETWEEN 1024 AND 1279))
        |      AS BIGINT) n_cyrillic,
        |    CAST(len(list_filter(cps, c -> c BETWEEN 19968 AND 40959))
        |      AS BIGINT) n_cjk
        |  FROM cp),
        |f AS (SELECT *, n_cp - n_latin - n_digit - n_cyrillic - n_cjk
        |    AS n_other,
        |    greatest(n_latin, n_digit, n_cyrillic, n_cjk,
        |      n_cp - n_latin - n_digit - n_cyrillic - n_cjk) AS m
        |  FROM ct)
        |SELECT doc_id, n_cp, n_latin, n_digit, n_cyrillic, n_cjk, n_other,
        |  CASE WHEN n_cp = 0 THEN 'empty'
        |    WHEN n_latin = m THEN 'latin'
        |    WHEN n_digit = m THEN 'digit'
        |    WHEN n_cyrillic = m THEN 'cyrillic'
        |    WHEN n_cjk = m THEN 'cjk'
        |    ELSE 'other' END AS main_script
        |FROM f ORDER BY doc_id""".stripMargin,

    "q132_ngram_diversity" ->
      """WITH w AS (SELECT source AS stratum,
        |    list_filter(string_split(lower(text), ' '), t -> t <> '') ws
        |  FROM documents),
        |g AS (SELECT stratum, array_to_string(ws[i:i+1], ' ') AS g
        |  FROM (SELECT stratum, ws,
        |      unnest(generate_series(1, len(ws) - 1)) i
        |    FROM w WHERE len(ws) >= 2)),
        |pc AS (SELECT stratum, g, COUNT(*) c FROM g GROUP BY 1, 2)
        |SELECT stratum, CAST(SUM(c) AS BIGINT) n_grams,
        |  COUNT(*) n_distinct,
        |  CAST(COUNT(*) * 1000 // SUM(c) AS BIGINT) ttr_permille,
        |  CAST(MAX(c) * 1000 // SUM(c) AS BIGINT) top_permille
        |FROM pc GROUP BY 1 ORDER BY 1""".stripMargin,

    "q131_budget_select" ->
      """WITH b AS (SELECT doc_id, CAST(n_chars AS BIGINT) q_score,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      t -> t <> '')) AS BIGINT) n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, q_score, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (ORDER BY q_score DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS before
        |  FROM b)
        |SELECT doc_id, q_score, n_tokens,
        |  before + n_tokens <= 60000 AS selected
        |FROM c ORDER BY doc_id""".stripMargin,

    // q130 is q83 behind the Bloom prefilter: the sketch only prunes,
    // the exact join decides, so the oracle is the same SQL — the
    // hash match IS the proof the prefilter loses nothing
    "q130_bloom_decontaminate" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split(lower(text),' '), t -> t <> '') ws
        |  FROM documents),
        |pos AS (SELECT doc_id, ws,
        |    unnest(generate_series(1, greatest(0, len(ws)-2))) i FROM w),
        |sh AS (SELECT DISTINCT doc_id,
        |    array_to_string(ws[i:i+2], ' ') s FROM pos),
        |bsh AS (SELECT doc_id + 1000000 AS bench_id, s FROM sh
        |  WHERE doc_id % 97 = 0),
        |bn AS (SELECT bench_id, COUNT(*) AS n_bench_sh FROM bsh GROUP BY 1),
        |ov AS (SELECT c.doc_id AS corpus_id, b.bench_id, COUNT(*) AS n_overlap
        |  FROM sh c JOIN bsh b ON c.s = b.s GROUP BY 1, 2)
        |SELECT bench_id, corpus_id, n_overlap, n_bench_sh,
        |  n_overlap / n_bench_sh AS overlap_frac
        |FROM ov JOIN bn USING (bench_id)
        |WHERE n_overlap / n_bench_sh >= 0.5
        |ORDER BY corpus_id, bench_id""".stripMargin,

    "q84_repetition" ->
      """WITH d AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |    THEN text || chr(10) || text || chr(10) || text
        |    ELSE text END AS t2
        |  FROM documents),
        |lstat AS (SELECT doc_id,
        |    len(list_filter(string_split(t2, chr(10)), l -> l <> ''))
        |      AS n_lines,
        |    len(list_distinct(list_filter(string_split(t2, chr(10)),
        |      l -> l <> ''))) AS n_distinct_lines
        |  FROM d),
        |w AS (SELECT doc_id,
        |    list_filter(string_split(lower(t2),' '), t -> t <> '') ws
        |  FROM d),
        |pos AS (SELECT doc_id, ws,
        |    unnest(generate_series(1, greatest(0, len(ws)-1))) i FROM w),
        |gr AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') g FROM pos),
        |gc AS (SELECT doc_id, g, COUNT(*) AS c FROM gr GROUP BY 1, 2),
        |gs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
        |    MAX(c) AS top_gram_n FROM gc GROUP BY 1)
        |SELECT l.doc_id, l.n_lines, l.n_distinct_lines,
        |  CASE WHEN l.n_lines > 0
        |    THEN (l.n_lines - l.n_distinct_lines) / l.n_lines
        |    ELSE 0.0 END AS dup_line_frac,
        |  COALESCE(g.n_grams, 0) AS n_grams,
        |  COALESCE(g.top_gram_n, 0) AS top_gram_n,
        |  g.top_gram_n / g.n_grams AS top_gram_frac,
        |  (CASE WHEN l.n_lines > 0
        |     THEN (l.n_lines - l.n_distinct_lines) / l.n_lines
        |     ELSE 0.0 END) <= 0.30
        |    AND COALESCE(g.top_gram_n / g.n_grams <= 0.20, TRUE)
        |      AS repetition_ok
        |FROM lstat l LEFT JOIN gs g USING (doc_id)
        |ORDER BY l.doc_id""".stripMargin,

    "q85_embedding_decontaminate" ->
      """WITH bench AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
        |corpus AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 <> 0
        |  UNION ALL
        |  SELECT vec_id + 2000000 AS vec_id,
        |    list_prepend(-embedding[1], embedding[2:]) AS embedding
        |  FROM bench),
        |cq AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) qv
        |  FROM corpus),
        |bq AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) qv
        |  FROM bench),
        |ce AS (SELECT vec_id, generate_subscripts(qv, 1) d, unnest(qv) v FROM cq),
        |be AS (SELECT vec_id, generate_subscripts(qv, 1) d, unnest(qv) v FROM bq),
        |cn AS (SELECT vec_id, CAST(SUM(v*v) AS BIGINT) nrm FROM ce GROUP BY 1),
        |bn AS (SELECT vec_id, CAST(SUM(v*v) AS BIGINT) nrm FROM be GROUP BY 1),
        |dots AS (SELECT ce.vec_id cid, be.vec_id bid,
        |    CAST(SUM(ce.v * be.v) AS BIGINT) dot
        |  FROM ce JOIN be ON be.d = ce.d GROUP BY 1, 2),
        |scored AS (SELECT cid, bid,
        |    dot / sqrt(CAST(cn.nrm * bn.nrm AS DOUBLE)) AS cosine
        |  FROM dots JOIN cn ON cn.vec_id = cid JOIN bn ON bn.vec_id = bid)
        |SELECT cid AS vec_id, COUNT(*) AS n_bench_hits,
        |  MAX(cosine) AS max_cosine
        |FROM scored WHERE cosine >= 0.875
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q86_stratified_sample" ->
      """SELECT doc_id, source, lang, n_chars FROM (
        |  SELECT doc_id, source, lang, n_chars,
        |    (strpos('0123456789abcdef',
        |       md5(CAST(doc_id AS VARCHAR) || ':' || source)[1]) - 1) * 16
        |    + (strpos('0123456789abcdef',
        |       md5(CAST(doc_id AS VARCHAR) || ':' || source)[2]) - 1)
        |      AS bucket,
        |    CASE source WHEN 'src0' THEN 256 WHEN 'src1' THEN 192
        |      WHEN 'src2' THEN 128 WHEN 'src3' THEN 64 ELSE 32 END
        |      AS threshold
        |  FROM documents)
        |WHERE bucket < threshold ORDER BY doc_id""".stripMargin,

    "q87_exact_substring" ->
      """WITH w AS (SELECT doc_id,
        |    unnest(generate_series(0, (length(text)-50)//25)) i, text
        |  FROM documents WHERE length(text) >= 50),
        |h AS (SELECT doc_id, md5(substr(text, i*25+1, 50)) hash FROM w)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  COUNT(*) AS n_shared_windows
        |FROM h a JOIN h b ON a.hash = b.hash AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q88_mixture_plan" ->
      """WITH agg AS (SELECT source AS stratum, COUNT(*) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS available,
        |    CAST(floor(CAST(100000 AS DOUBLE) *
        |      CAST(CASE source WHEN 'src0' THEN 0.30
        |        WHEN 'src1' THEN 0.20 WHEN 'src2' THEN 0.10
        |        ELSE 0.05 END AS DOUBLE)) AS BIGINT) AS target
        |  FROM documents GROUP BY source)
        |SELECT stratum, n_docs, available, target,
        |  least(256, CAST(floor(
        |    CAST(target * 256 AS DOUBLE) / CAST(available AS DOUBLE))
        |    AS BIGINT)) AS bucket_threshold
        |FROM agg ORDER BY stratum""".stripMargin,

    "q89_surprisal" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> t <> '') ws
        |  FROM documents),
        |pos AS (SELECT doc_id, ws,
        |    unnest(generate_series(1, greatest(0, len(ws)-1))) i
        |  FROM w WHERE len(ws) >= 2),
        |gr AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') g FROM pos),
        |model AS (SELECT g, COUNT(*) c FROM gr GROUP BY 1
        |  HAVING COUNT(*) >= 2),
        |tot AS (SELECT COUNT(*) t FROM gr),
        |sc AS (SELECT gr.doc_id,
        |    (length(bin(tot.t)) - 1) - (length(bin(COALESCE(model.c, 1))) - 1)
        |      AS s
        |  FROM gr LEFT JOIN model USING (g) CROSS JOIN tot)
        |SELECT doc_id, COUNT(*) AS n_ngrams,
        |  CAST(SUM(s) AS BIGINT) AS surprisal,
        |  CAST(floor(CAST(CAST(SUM(s) AS BIGINT) * 1000 AS DOUBLE)
        |    / COUNT(*)) AS BIGINT) AS mean_x1000
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,

    "q90_domain_blocklist" ->
      """WITH d AS (SELECT doc_id, source, lang,
        |    (CASE WHEN doc_id % 5 = 0 THEN 'cdn.'
        |      WHEN doc_id % 5 = 1 THEN 'www.' ELSE '' END)
        |    || source ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '.tracker.net'
        |      WHEN doc_id % 3 = 1 THEN '.example.com'
        |      ELSE '.example.org' END) AS host
        |  FROM documents),
        |p AS (SELECT doc_id, host, string_split(host, '.') AS parts FROM d),
        |s AS (SELECT doc_id, parts,
        |    unnest(generate_series(1, len(parts))) AS k FROM p),
        |sfx AS (SELECT doc_id,
        |    array_to_string(parts[len(parts)-k+1:len(parts)], '.') AS sfx
        |  FROM s),
        |blocked AS (SELECT DISTINCT doc_id FROM sfx
        |  WHERE sfx IN ('tracker.net', 'www.src1.example.com',
        |    'src2.example.org'))
        |SELECT doc_id, source, lang, host FROM d
        |WHERE doc_id NOT IN (SELECT doc_id FROM blocked)
        |ORDER BY doc_id""".stripMargin,

    "q91_line_dedup" ->
      """WITH d AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 0
        |      THEN chr(10) || 'subscribe to our newsletter today'
        |    WHEN doc_id % 4 = 1
        |      THEN chr(10) || 'all rights reserved worldwide'
        |    WHEN doc_id % 4 = 2 THEN chr(10) || 'ok'
        |    ELSE '' END AS t2
        |  FROM documents),
        |ls0 AS (SELECT doc_id,
        |    list_filter(string_split(t2, chr(10)), l -> l <> '') AS ls
        |  FROM d),
        |ls AS (SELECT doc_id, unnest(ls) AS line,
        |    generate_subscripts(ls, 1) AS line_no FROM ls0),
        |freq AS (SELECT md5(line) h, COUNT(*) f FROM ls GROUP BY 1),
        |k AS (SELECT doc_id, line_no, line,
        |    (hot.f IS NULL OR length(line) < 5) AS keep
        |  FROM ls LEFT JOIN (SELECT h, f FROM freq WHERE f > 5) hot
        |    ON md5(line) = hot.h),
        |agg AS (SELECT doc_id, COUNT(*) AS n_lines,
        |    CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    string_agg(CASE WHEN keep THEN line END, chr(10)
        |      ORDER BY line_no) AS cleaned_text
        |  FROM k GROUP BY 1)
        |SELECT d.doc_id, COALESCE(n_lines, 0) AS n_lines,
        |  COALESCE(n_kept, 0) AS n_kept,
        |  COALESCE(n_lines, 0) - COALESCE(n_kept, 0) AS n_dropped,
        |  COALESCE(cleaned_text, '') AS cleaned_text
        |FROM d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    // q128 is q91 through the patch-set path: same decisions, same
    // output contract, so the oracle is the same SQL — the hash match
    // IS the proof the two paths agree
    "q128_line_patches" ->
      """WITH d AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 0
        |      THEN chr(10) || 'subscribe to our newsletter today'
        |    WHEN doc_id % 4 = 1
        |      THEN chr(10) || 'all rights reserved worldwide'
        |    WHEN doc_id % 4 = 2 THEN chr(10) || 'ok'
        |    ELSE '' END AS t2
        |  FROM documents),
        |ls0 AS (SELECT doc_id,
        |    list_filter(string_split(t2, chr(10)), l -> l <> '') AS ls
        |  FROM d),
        |ls AS (SELECT doc_id, unnest(ls) AS line,
        |    generate_subscripts(ls, 1) AS line_no FROM ls0),
        |freq AS (SELECT md5(line) h, COUNT(*) f FROM ls GROUP BY 1),
        |k AS (SELECT doc_id, line_no, line,
        |    (hot.f IS NULL OR length(line) < 5) AS keep
        |  FROM ls LEFT JOIN (SELECT h, f FROM freq WHERE f > 5) hot
        |    ON md5(line) = hot.h),
        |agg AS (SELECT doc_id, COUNT(*) AS n_lines,
        |    CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    string_agg(CASE WHEN keep THEN line END, chr(10)
        |      ORDER BY line_no) AS cleaned_text
        |  FROM k GROUP BY 1)
        |SELECT d.doc_id, COALESCE(n_lines, 0) AS n_lines,
        |  COALESCE(n_kept, 0) AS n_kept,
        |  COALESCE(n_lines, 0) - COALESCE(n_kept, 0) AS n_dropped,
        |  COALESCE(cleaned_text, '') AS cleaned_text
        |FROM d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q92_packing_plan" ->
      """WITH t AS (SELECT source AS shard, doc_id,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT shard, doc_id, n_tokens,
        |    COALESCE(CAST(SUM(n_tokens) OVER (PARTITION BY shard
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING) AS BIGINT), 0) AS start_offset
        |  FROM t)
        |SELECT shard, doc_id, n_tokens, start_offset,
        |  start_offset // 512 AS bin_first,
        |  (start_offset + greatest(n_tokens, 1) - 1) // 512 AS bin_last,
        |  (start_offset + greatest(n_tokens, 1) - 1) // 512
        |    > start_offset // 512 AS crosses
        |FROM c ORDER BY shard, doc_id""".stripMargin,

    "q93_semantic_dedup" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id,
        |    list_prepend(-embedding[1], embedding[2:]) AS embedding
        |  FROM embeddings WHERE vec_id % 25 = 0),
        |e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) qv
        |  FROM corpus),
        |ed AS (SELECT vec_id, generate_subscripts(qv, 1) d, unnest(qv) v FROM e),
        |nrm AS (SELECT vec_id, CAST(SUM(v*v) AS BIGINT) nrm FROM ed GROUP BY 1),
        |cd AS (SELECT vec_id AS cent_id, d, v FROM ed WHERE vec_id < 16),
        |cdot AS (SELECT ed.vec_id, cd.cent_id, CAST(SUM(ed.v * cd.v) AS BIGINT) dot
        |  FROM ed JOIN cd ON cd.d = ed.d GROUP BY 1, 2),
        |cscore AS (SELECT cdot.vec_id, cent_id,
        |    dot / sqrt(CAST(na.nrm * nb.nrm AS DOUBLE)) AS c_cos
        |  FROM cdot JOIN nrm na ON na.vec_id = cdot.vec_id
        |    JOIN nrm nb ON nb.vec_id = cent_id),
        |cell AS (SELECT vec_id, cent_id AS cell FROM (
        |    SELECT vec_id, cent_id, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id ORDER BY c_cos DESC, cent_id) rn
        |    FROM cscore) WHERE rn = 1),
        |pairs AS (SELECT a.vec_id va, b.vec_id vb FROM cell a
        |  JOIN cell b ON a.cell = b.cell AND a.vec_id < b.vec_id),
        |dots AS (SELECT va, vb, CAST(SUM(x.v * y.v) AS BIGINT) dot
        |  FROM pairs JOIN ed x ON x.vec_id = va
        |    JOIN ed y ON y.vec_id = vb AND y.d = x.d
        |  GROUP BY 1, 2),
        |scored AS (SELECT va, vb,
        |    dot / sqrt(CAST(na.nrm * nb.nrm AS DOUBLE)) AS cosine
        |  FROM dots JOIN nrm na ON na.vec_id = va
        |    JOIN nrm nb ON nb.vec_id = vb),
        |dups AS (SELECT vb AS vec_id, COUNT(*) AS n_dup_smaller,
        |    MAX(cosine) AS max_cosine
        |  FROM scored WHERE cosine >= 0.85 GROUP BY 1)
        |SELECT c.vec_id, c.cell,
        |  COALESCE(n_dup_smaller, 0) AS n_dup_smaller, max_cosine,
        |  (n_dup_smaller IS NULL) AS keep
        |FROM cell c LEFT JOIN dups USING (vec_id) ORDER BY vec_id""".stripMargin,

    "q94_quality_classifier" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> t <> '') ws
        |  FROM documents),
        |lab AS (SELECT doc_id, ws,
        |    len(list_filter(ws,
        |      t -> t IN ('vector', 'stream', 'batch'))) >= 3 AS l_pos
        |  FROM w WHERE doc_id % 2 = 0),
        |tr AS (SELECT unnest(ws) tok, l_pos FROM lab),
        |model AS (SELECT tok,
        |    CAST(SUM(CASE WHEN l_pos THEN 1 ELSE 0 END) AS BIGINT) c_pos,
        |    CAST(SUM(CASE WHEN NOT l_pos THEN 1 ELSE 0 END) AS BIGINT) c_neg
        |  FROM tr GROUP BY 1),
        |tot AS (SELECT
        |    CAST(SUM(CASE WHEN l_pos THEN 1 ELSE 0 END) AS BIGINT) t_pos,
        |    CAST(SUM(CASE WHEN NOT l_pos THEN 1 ELSE 0 END) AS BIGINT) t_neg
        |  FROM tr),
        |ct AS (SELECT doc_id, unnest(ws) tok FROM w),
        |sc AS (SELECT doc_id,
        |    ((length(bin(COALESCE(c_pos, 0) + 1)) - 1)
        |      - (length(bin(t_pos)) - 1))
        |    - ((length(bin(COALESCE(c_neg, 0) + 1)) - 1)
        |      - (length(bin(t_neg)) - 1)) AS s
        |  FROM ct LEFT JOIN model USING (tok) CROSS JOIN tot)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(s) AS BIGINT) AS score,
        |  CAST(SUM(s) AS BIGINT) > 0 AS pred_quality
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,

    "q97_chunk_documents" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> t <> '') ws
        |  FROM documents),
        |c AS (SELECT doc_id, ws,
        |    unnest(generate_series(0, CAST(greatest(0,
        |      ceil((len(ws) - 40) / CAST(35 AS DOUBLE))) AS BIGINT))) k
        |  FROM w WHERE len(ws) > 0)
        |SELECT doc_id, k AS chunk_no,
        |  CAST(len(ws[k*35+1 : k*35+40]) AS BIGINT) AS n_tokens,
        |  array_to_string(ws[k*35+1 : k*35+40], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_no""".stripMargin,

    "q98_split_assign" ->
      """SELECT doc_id, source,
        |  CASE WHEN bucket < 204 THEN 'train'
        |    WHEN bucket < 230 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, source,
        |    (strpos('0123456789abcdef',
        |       md5(CAST(doc_id AS VARCHAR) || ':split')[1]) - 1) * 16
        |    + (strpos('0123456789abcdef',
        |       md5(CAST(doc_id AS VARCHAR) || ':split')[2]) - 1) AS bucket
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q99_winnowing" ->
      """WITH d AS (SELECT doc_id, lower(text) t FROM documents
        |  WHERE length(text) >= 16),
        |g AS (SELECT doc_id, length(t) - 15 AS n, i,
        |    substr(md5(substr(t, i, 16)), 1, 8) AS h
        |  FROM (SELECT doc_id, t,
        |      unnest(generate_series(1, length(t) - 15)) i FROM d)),
        |wm AS (SELECT doc_id, n, i, MIN(h) OVER (PARTITION BY doc_id
        |    ORDER BY i ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mh
        |  FROM g),
        |fp0 AS (SELECT DISTINCT doc_id, mh FROM wm WHERE i <= n - 7),
        |fp AS (SELECT * FROM fp0 WHERE mh NOT IN (
        |  SELECT mh FROM fp0 GROUP BY mh HAVING COUNT(*) > 256))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  COUNT(*) AS n_shared_fp
        |FROM fp a JOIN fp b ON a.mh = b.mh AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 5 ORDER BY 1, 2""".stripMargin,

    "q100_bm25" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> t <> '') ws
        |  FROM documents),
        |tl AS (SELECT doc_id, len(ws) dl, unnest(ws) term FROM toks
        |  WHERE len(ws) >= 1),
        |posts AS (SELECT doc_id, dl, term, COUNT(*) tf FROM tl
        |  GROUP BY 1, 2, 3),
        |stats AS (SELECT COUNT(DISTINCT doc_id) n_docs,
        |    CAST(SUM(tf) AS BIGINT) // COUNT(DISTINCT doc_id) avgdl
        |  FROM posts),
        |qt AS (SELECT * FROM (VALUES
        |    ('q_spark','vector'),('q_spark','stream'),('q_spark','batch'),
        |    ('q_spark','shuffle'),
        |    ('q_db','query'),('q_db','table'),('q_db','join'),
        |    ('q_db','index'),
        |    ('q_mixed','the'),('q_mixed','customer'),('q_mixed','window'),
        |    ('q_mixed','merge')) t(query_id, term)),
        |enr AS (SELECT qt.query_id, d.term,
        |    (length(bin(stats.n_docs // d.df_t)) - 1) idf, stats.avgdl
        |  FROM (SELECT term, COUNT(*) df_t FROM posts GROUP BY 1) d
        |  JOIN qt USING (term) CROSS JOIN stats),
        |sc AS (SELECT query_id, doc_id,
        |    CAST(SUM(idf * ((44 * tf * avgdl * 10000)
        |      // (20 * tf * avgdl + 6 * avgdl + 18 * dl))) AS BIGINT) score
        |  FROM posts JOIN enr USING (term) GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, score, row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, doc_id) rk
        |  FROM sc)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, doc_id, score
        |FROM r WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,

    "q101_c4_filters" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> t <> '') ws
        |  FROM documents),
        |ln AS (SELECT doc_id, ws,
        |    unnest(generate_series(1, (len(ws) + 7) // 8)) i
        |  FROM w WHERE len(ws) >= 1),
        |l1 AS (SELECT doc_id, i,
        |    CASE WHEN (doc_id * 7 + i) % 13 = 0
        |      THEN array_to_string(ws[(i-1)*8+1 : (i-1)*8+8], ' ')
        |        || ' javascript included today.'
        |      ELSE array_to_string(ws[(i-1)*8+1 : (i-1)*8+8], ' ')
        |        || CASE (doc_id + i) % 4 WHEN 0 THEN '.' WHEN 1 THEN '!'
        |          WHEN 2 THEN '?' ELSE '' END END AS line
        |  FROM ln),
        |doc AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i)
        |    || CASE WHEN doc_id % 37 = 0
        |      THEN chr(10) || 'lorem ipsum dolor sit amet consectetur.'
        |      ELSE '' END
        |    || CASE WHEN doc_id % 41 = 0
        |      THEN chr(10) || 'config uses { braces } for scope here.'
        |      ELSE '' END
        |    || CASE WHEN doc_id % 43 = 0
        |      THEN chr(10) || 'some heinous words lurk in here somewhere.'
        |      ELSE '' END AS t2
        |  FROM l1 GROUP BY 1),
        |ls AS (SELECT doc_id, t2,
        |    list_filter(string_split(t2, chr(10)), l -> l <> '') lsx
        |  FROM doc),
        |lx AS (SELECT doc_id, t2, unnest(lsx) line,
        |    generate_subscripts(lsx, 1) line_no FROM ls),
        |g AS (SELECT doc_id, line_no, line,
        |    (right(line, 1) IN ('.', '!', '?', '"'))
        |    AND len(list_filter(string_split(line, ' '), x -> x <> '')) >= 5
        |    AND NOT list_contains(list_transform(
        |      list_filter(string_split(lower(line), ' '), x -> x <> ''),
        |      x -> regexp_replace(x, '[.!?"]+$', '')), 'javascript')
        |      AS keep
        |  FROM lx),
        |pg AS (SELECT doc_id, NOT (contains(lower(t2), 'lorem ipsum')
        |    OR contains(t2, '{')
        |    OR list_contains(list_transform(list_filter(
        |      string_split_regex(lower(t2), '[ \n]'), x -> x <> ''),
        |      x -> regexp_replace(x, '[.!?"]+$', '')), 'heinous'))
        |    AS clean
        |  FROM doc),
        |agg AS (SELECT doc_id, COUNT(*) n_lines,
        |    CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) n_kept,
        |    string_agg(CASE WHEN keep THEN line END, chr(10)
        |      ORDER BY line_no) joined
        |  FROM g GROUP BY 1)
        |SELECT a.doc_id, a.n_lines, a.n_kept,
        |  (p.clean AND a.n_kept >= 3) AS page_ok,
        |  CASE WHEN a.n_kept >= 1 THEN a.joined END AS cleaned_text
        |FROM agg a JOIN pg p USING (doc_id) ORDER BY a.doc_id""".stripMargin,

    "q102_dsir" ->
      """WITH w AS (SELECT doc_id, source,
        |    list_filter(string_split(lower(text), ' '), t -> t <> '') ws
        |  FROM documents),
        |pos AS (SELECT doc_id, source, ws,
        |    unnest(generate_series(1, greatest(0, len(ws) - 1))) i
        |  FROM w WHERE len(ws) >= 2),
        |rg AS (SELECT doc_id, source,
        |    (strpos('0123456789abcdef',
        |       md5(array_to_string(ws[i:i+1], ' '))[1]) - 1) * 256
        |    + (strpos('0123456789abcdef',
        |       md5(array_to_string(ws[i:i+1], ' '))[2]) - 1) * 16
        |    + (strpos('0123456789abcdef',
        |       md5(array_to_string(ws[i:i+1], ' '))[3]) - 1) AS b
        |  FROM pos),
        |ct AS (SELECT b, COUNT(*) c_t FROM rg WHERE source = 'src0'
        |  GROUP BY 1),
        |cr AS (SELECT b, COUNT(*) c_r FROM rg GROUP BY 1),
        |tt AS (SELECT COUNT(*) t FROM rg WHERE source = 'src0'),
        |tr AS (SELECT COUNT(*) t FROM rg),
        |lam AS (SELECT cr.b,
        |    ((length(bin(COALESCE(ct.c_t, 0) + 1)) - 1)
        |      - (length(bin(tt.t)) - 1))
        |    - ((length(bin(cr.c_r + 1)) - 1)
        |      - (length(bin(tr.t)) - 1)) AS lam
        |  FROM cr LEFT JOIN ct USING (b) CROSS JOIN tt CROSS JOIN tr),
        |sc AS (SELECT rg.doc_id, lam.lam FROM rg JOIN lam USING (b))
        |SELECT doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(lam) AS BIGINT) AS logw,
        |  CAST(floor(CAST(CAST(SUM(lam) AS BIGINT) * 1000 AS DOUBLE)
        |    / COUNT(*)) AS BIGINT) AS mean_x1000
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,

    "q103_heavy_hitters" ->
      """WITH t AS (SELECT unnest(list_filter(string_split(lower(text),
        |    ' '), x -> x <> '')) term FROM documents),
        |tot AS (SELECT COUNT(*) n FROM t),
        |c AS (SELECT term, COUNT(*) cnt FROM t GROUP BY 1)
        |SELECT term, cnt FROM c CROSS JOIN tot
        |WHERE cnt * 41 > n ORDER BY term""".stripMargin,

    "q107_fim_split" ->
      """WITH d AS (SELECT doc_id, text t, CAST(length(text) AS BIGINT) n
        |  FROM documents WHERE length(text) >= 1),
        |c AS (SELECT doc_id, t, n,
        |    ((strpos('0123456789abcdef',
        |        md5(CAST(doc_id AS VARCHAR) || ':fim:p')[1]) - 1) * 16
        |      + strpos('0123456789abcdef',
        |        md5(CAST(doc_id AS VARCHAR) || ':fim:p')[2]) - 1) < 128
        |      AS do_fim,
        |    CAST(list_sum(list_transform(generate_series(1, 6), j ->
        |      (strpos('0123456789abcdef', substr(md5(
        |         CAST(doc_id AS VARCHAR) || ':fim:a'), j, 1)) - 1)
        |      * CAST(power(16, 6 - j) AS BIGINT))) AS BIGINT) % (n + 1)
        |      AS da,
        |    CAST(list_sum(list_transform(generate_series(1, 6), j ->
        |      (strpos('0123456789abcdef', substr(md5(
        |         CAST(doc_id AS VARCHAR) || ':fim:b'), j, 1)) - 1)
        |      * CAST(power(16, 6 - j) AS BIGINT))) AS BIGINT) % (n + 1)
        |      AS db
        |  FROM d)
        |SELECT doc_id, do_fim,
        |  CASE WHEN do_fim THEN least(da, db) END AS split_u,
        |  CASE WHEN do_fim THEN greatest(da, db) END AS split_v,
        |  CASE WHEN do_fim THEN
        |    '<PRE>' || substr(t, 1, CAST(least(da, db) AS INT))
        |    || '<SUF>' || substr(t, CAST(greatest(da, db) + 1 AS INT),
        |         CAST(n - greatest(da, db) AS INT))
        |    || '<MID>' || substr(t, CAST(least(da, db) + 1 AS INT),
        |         CAST(greatest(da, db) - least(da, db) AS INT))
        |  ELSE t END AS text_out
        |FROM c ORDER BY doc_id""".stripMargin,

    "q108_span_corruption" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> t <> '') ws
        |  FROM documents),
        |b AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) n,
        |    CAST(floor(CAST(len(ws) AS BIGINT) * 0.15 / 3) AS BIGINT)
        |      n_spans
        |  FROM w),
        |base AS (SELECT doc_id, ws, n, n_spans, n // n_spans AS stride
        |  FROM b WHERE n_spans >= 1),
        |spans AS (SELECT doc_id, ws, n, stride,
        |    unnest(generate_series(0, n_spans - 1)) AS span_no
        |  FROM base),
        |sp AS (SELECT doc_id, ws, n, span_no,
        |    span_no * stride + 1 +
        |    CAST(list_sum(list_transform(generate_series(1, 6), j ->
        |      (strpos('0123456789abcdef', substr(md5(
        |         CAST(doc_id AS VARCHAR) || ':span:'
        |         || CAST(span_no AS VARCHAR)), j, 1)) - 1)
        |      * CAST(power(16, 6 - j) AS BIGINT))) AS BIGINT)
        |      % (stride - 2) AS start_tok
        |  FROM spans),
        |r AS (SELECT doc_id, MAX(n) n, MAX(ws) ws,
        |    list(start_tok ORDER BY span_no) starts,
        |    COUNT(*) m
        |  FROM sp GROUP BY 1),
        |rr AS (SELECT doc_id,
        |    array_to_string(flatten(list_transform(
        |      generate_series(0, CAST(m AS INT)), i -> list_concat(
        |        ws[CAST(list_prepend(CAST(1 AS BIGINT),
        |            list_transform(starts, s -> s + 3))[i+1] AS INT) :
        |          CAST(list_append(starts, n + 1)[i+1] - 1 AS INT)],
        |        CASE WHEN i < m
        |          THEN ['<extra_id_' || CAST(i AS VARCHAR) || '>']
        |          ELSE [] END))), ' ') AS corrupted_input,
        |    array_to_string(flatten(list_transform(
        |      generate_series(0, CAST(m - 1 AS INT)), i -> list_concat(
        |        ['<extra_id_' || CAST(i AS VARCHAR) || '>'],
        |        ws[CAST(starts[i+1] AS INT) :
        |           CAST(starts[i+1] + 2 AS INT)]))), ' ')
        |      AS target_output
        |  FROM r)
        |SELECT s.doc_id, s.span_no, s.start_tok,
        |  CAST(3 AS BIGINT) AS len_tok, rr.corrupted_input,
        |  rr.target_output
        |FROM sp s JOIN rr USING (doc_id)
        |ORDER BY s.doc_id, s.span_no""".stripMargin,

    "q109_keep_best" ->
      """WITH RECURSIVE w AS (SELECT doc_id,
        |    list_filter(string_split(lower(text),' '), t -> t <> '') ws
        |  FROM documents),
        |pos AS (SELECT doc_id, ws,
        |    unnest(generate_series(1, greatest(0, len(ws)-2))) i FROM w),
        |sh AS (SELECT DISTINCT doc_id,
        |    array_to_string(ws[i:i+2], ' ') s FROM pos),
        |n AS (SELECT doc_id, COUNT(*) n_sh FROM sh GROUP BY 1),
        |p AS (SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) shared
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM p
        |  JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b
        |  WHERE shared / (na.n_sh + nb.n_sh - shared) >= 0.5),
        |e AS (SELECT doc_a AS v, doc_b AS u FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT v, v AS r FROM (SELECT DISTINCT v FROM e)
        |  UNION
        |  SELECT e.v, reach.r FROM e JOIN reach ON reach.v = e.u),
        |mem AS (SELECT v AS doc_id, MIN(r) AS cluster_id
        |  FROM reach GROUP BY v),
        |mq AS (SELECT m.doc_id, m.cluster_id,
        |    CAST(d.n_chars AS BIGINT) q_score
        |  FROM mem m JOIN documents d USING (doc_id)),
        |rep AS (SELECT cluster_id, doc_id rep_id
        |  FROM (SELECT cluster_id, doc_id, ROW_NUMBER() OVER (
        |      PARTITION BY cluster_id
        |      ORDER BY q_score DESC, doc_id) rn FROM mq)
        |  WHERE rn = 1),
        |cnt AS (SELECT cluster_id, COUNT(*) n_members
        |  FROM mq GROUP BY 1)
        |SELECT mq.doc_id, mq.cluster_id,
        |  CAST(cnt.n_members AS BIGINT) n_members, mq.q_score,
        |  mq.doc_id = rep.rep_id AS is_kept
        |FROM mq JOIN rep USING (cluster_id) JOIN cnt USING (cluster_id)
        |ORDER BY mq.doc_id""".stripMargin,

    "q110_temperature_mix" ->
      """WITH c AS (SELECT source AS stratum, COUNT(*) n_docs
        |  FROM documents GROUP BY 1),
        |s AS (SELECT stratum, n_docs,
        |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 65536) AS BIGINT)
        |      s_i FROM c),
        |t AS (SELECT CAST(SUM(s_i) AS BIGINT) s_tot,
        |    CAST(SUM(n_docs) AS BIGINT) n_tot FROM s)
        |SELECT stratum, n_docs,
        |  n_docs * 1000000 // n_tot AS raw_ppm,
        |  s_i * 1000000 // s_tot AS weight_ppm,
        |  1000 * (s_i * 1000000 // s_tot) // 1000000 AS expected_docs,
        |  s_i * 1000000 // s_tot > n_docs * 1000000 // n_tot
        |    AS upweighted
        |FROM s CROSS JOIN t ORDER BY stratum""".stripMargin,

    "q111_random_projection" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) qv
        |  FROM embeddings),
        |ed AS (SELECT vec_id, generate_subscripts(qv, 1) d, unnest(qv) v FROM e),
        |wts AS (SELECT p, d,
        |    (strpos('0123456789abcdef', md5(p || ':' || d)[1]) - 1)*2 - 15 AS w
        |  FROM (SELECT unnest(generate_series(0,15)) p)
        |  CROSS JOIN (SELECT unnest(generate_series(0,63)) d))
        |SELECT ed.vec_id, wts.p, CAST(SUM(wts.w * ed.v) AS BIGINT) proj
        |FROM ed JOIN wts ON wts.d = ed.d - 1
        |GROUP BY 1, 2 ORDER BY vec_id, p""".stripMargin,

    "q112_incremental_ingest" ->
      """WITH d AS (SELECT doc_id, text, doc_id % 7 = 0 AS is_new
        |  FROM documents),
        |ex AS (SELECT n.doc_id, coalesce(o.hit, false) exact_dup
        |  FROM (SELECT doc_id, md5(text) chash FROM d WHERE is_new) n
        |  LEFT JOIN (SELECT DISTINCT md5(text) chash, true AS hit
        |    FROM d WHERE NOT is_new) o ON o.chash = n.chash),
        |w AS (SELECT doc_id,
        |    list_filter(string_split(lower(text),' '), t -> t <> '') ws
        |  FROM d),
        |pos AS (SELECT doc_id, ws,
        |    unnest(generate_series(1, greatest(0, len(ws)-2))) i FROM w),
        |sh AS (SELECT DISTINCT doc_id,
        |    array_to_string(ws[i:i+2], ' ') s FROM pos),
        |hs AS (SELECT doc_id, md5('1:' || s) || md5('2:' || s) h FROM sh),
        |sigs AS (SELECT doc_id, k, MIN(substr(h, k*4 + 1, 4)) sig
        |  FROM hs CROSS JOIN (SELECT unnest(generate_series(0,15)) k) t
        |  GROUP BY 1, 2),
        |bands AS (SELECT doc_id, k//2 AS band,
        |    md5(string_agg(sig, '|' ORDER BY k)) bkey
        |  FROM sigs GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT x.doc_id, y.doc_id old_id
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.bkey = y.bkey
        |  JOIN d dx ON dx.doc_id = x.doc_id
        |  JOIN d dy ON dy.doc_id = y.doc_id
        |  WHERE dx.is_new AND NOT dy.is_new),
        |m AS (SELECT cand.doc_id, old_id,
        |    CAST(COUNT(*) FILTER (sa.sig = sb.sig) AS BIGINT) n_match
        |  FROM cand JOIN sigs sa ON sa.doc_id = cand.doc_id
        |    JOIN sigs sb ON sb.doc_id = old_id AND sb.k = sa.k
        |  GROUP BY 1, 2),
        |best AS (SELECT doc_id, old_id, n_match, n_match / 16.0 est
        |  FROM (SELECT doc_id, old_id, n_match, ROW_NUMBER() OVER (
        |      PARTITION BY doc_id ORDER BY n_match DESC, old_id) rn
        |    FROM m WHERE n_match / 16.0 >= 0.5)
        |  WHERE rn = 1)
        |SELECT ex.doc_id, ex.exact_dup, best.old_id AS near_dup_of,
        |  best.n_match, best.est AS est_jaccard,
        |  NOT ex.exact_dup AND best.old_id IS NULL AS keep
        |FROM ex LEFT JOIN best USING (doc_id)
        |ORDER BY ex.doc_id""".stripMargin,

    "q113_pq_codes" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) qv
        |  FROM embeddings),
        |ed AS (SELECT vec_id, generate_subscripts(qv, 1) d, unnest(qv) v FROM e),
        |sd AS (SELECT vec_id, CAST((d-1)//8 AS BIGINT) m, d, v FROM ed),
        |cd AS (SELECT vec_id AS code, m, d, v cv FROM sd WHERE vec_id < 16),
        |dist AS (SELECT s.vec_id, s.m, c.code,
        |    CAST(SUM((s.v - c.cv)*(s.v - c.cv)) AS BIGINT) dist2
        |  FROM sd s JOIN cd c ON c.m = s.m AND c.d = s.d
        |  GROUP BY 1, 2, 3)
        |SELECT vec_id, m, code FROM (
        |  SELECT vec_id, m, code, ROW_NUMBER() OVER (
        |    PARTITION BY vec_id, m ORDER BY dist2, code) rn FROM dist)
        |WHERE rn = 1 ORDER BY vec_id, m""".stripMargin,

    "q114_pq_adc_topk" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) qv
        |  FROM embeddings),
        |ed AS (SELECT vec_id, generate_subscripts(qv, 1) d, unnest(qv) v FROM e),
        |sd AS (SELECT vec_id, CAST((d-1)//8 AS BIGINT) m, d, v FROM ed),
        |cd AS (SELECT vec_id AS code, m, d, v cv FROM sd WHERE vec_id < 16),
        |dist AS (SELECT s.vec_id, s.m, c.code,
        |    CAST(SUM((s.v - c.cv)*(s.v - c.cv)) AS BIGINT) dist2
        |  FROM sd s JOIN cd c ON c.m = s.m AND c.d = s.d
        |  GROUP BY 1, 2, 3),
        |best AS (SELECT vec_id, m, code, dist2 FROM (
        |    SELECT vec_id, m, code, dist2, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id, m ORDER BY dist2, code) rn FROM dist)
        |  WHERE rn = 1),
        |qd AS (SELECT vec_id query_id, m, code, dist2 FROM dist
        |  WHERE vec_id IN (0, 1, 2, 3, 4)),
        |adc AS (SELECT qd.query_id, b.vec_id,
        |    CAST(SUM(qd.dist2) AS BIGINT) adc
        |  FROM best b JOIN qd ON qd.m = b.m AND qd.code = b.code
        |  WHERE b.vec_id <> qd.query_id GROUP BY 1, 2),
        |r AS (SELECT query_id, vec_id, adc, ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY adc, vec_id) rank FROM adc)
        |SELECT query_id, CAST(rank AS BIGINT) rank, vec_id, adc
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q115_containment" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split(lower(text),' '), t -> t <> '') ws
        |  FROM documents),
        |pos AS (SELECT doc_id, ws,
        |    unnest(generate_series(1, greatest(0, len(ws)-2))) i FROM w),
        |sh AS (SELECT DISTINCT doc_id,
        |    array_to_string(ws[i:i+2], ' ') s FROM pos),
        |n AS (SELECT doc_id, COUNT(*) n_sh FROM sh GROUP BY 1),
        |p AS (SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) shared
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, shared,
        |  CASE WHEN na.n_sh <= nb.n_sh THEN doc_a ELSE doc_b END
        |    AS contained_doc,
        |  shared / least(na.n_sh, nb.n_sh) AS containment
        |FROM p JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b
        |WHERE shared / least(na.n_sh, nb.n_sh) >= 0.6
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q116_length_quantiles" ->
      """WITH w AS (SELECT source AS stratum,
        |    CAST(len(list_filter(string_split(lower(text),' '),
        |      t -> t <> '')) AS BIGINT) v
        |  FROM documents),
        |h AS (SELECT stratum, v, COUNT(*) f FROM w GROUP BY 1, 2),
        |c AS (SELECT stratum, v, f,
        |    CAST(SUM(f) OVER (PARTITION BY stratum ORDER BY v) AS BIGINT) cum,
        |    CAST(SUM(f) OVER (PARTITION BY stratum) AS BIGINT) n_docs,
        |    CAST(SUM(f*v) OVER (PARTITION BY stratum) AS BIGINT) sum_v
        |  FROM h)
        |SELECT stratum, MAX(n_docs) n_docs,
        |  MAX(sum_v) // MAX(n_docs) AS mean_tokens,
        |  MIN(CASE WHEN cum*100 >= n_docs*50 THEN v END) p50,
        |  MIN(CASE WHEN cum*100 >= n_docs*90 THEN v END) p90,
        |  MIN(CASE WHEN cum*100 >= n_docs*99 THEN v END) p99,
        |  MAX(v) max_tokens
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "q117_split_leakage" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split(lower(text),' '), t -> t <> '') ws
        |  FROM documents),
        |pos AS (SELECT doc_id, ws,
        |    unnest(generate_series(1, greatest(0, len(ws)-2))) i FROM w),
        |sh AS (SELECT DISTINCT doc_id,
        |    array_to_string(ws[i:i+2], ' ') s FROM pos),
        |hs AS (SELECT doc_id, md5('1:' || s) || md5('2:' || s) h FROM sh),
        |sigs AS (SELECT doc_id, k, MIN(substr(h, k*4 + 1, 4)) sig
        |  FROM hs CROSS JOIN (SELECT unnest(generate_series(0,15)) k) t
        |  GROUP BY 1, 2),
        |bands AS (SELECT doc_id, k//2 AS band,
        |    md5(string_agg(sig, '|' ORDER BY k)) bkey
        |  FROM sigs GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT x.doc_id doc_a, y.doc_id doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
        |m AS (SELECT doc_a, doc_b,
        |    CAST(COUNT(*) FILTER (sa.sig = sb.sig) AS BIGINT) n_match
        |  FROM cand JOIN sigs sa ON sa.doc_id = doc_a
        |    JOIN sigs sb ON sb.doc_id = doc_b AND sb.k = sa.k
        |  GROUP BY 1, 2),
        |sp AS (SELECT doc_id,
        |    CASE WHEN bucket < 204 THEN 'train'
        |      WHEN bucket < 230 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT doc_id,
        |      (strpos('0123456789abcdef',
        |         md5(CAST(doc_id AS VARCHAR) || ':split')[1]) - 1) * 16
        |      + (strpos('0123456789abcdef',
        |         md5(CAST(doc_id AS VARCHAR) || ':split')[2]) - 1) AS bucket
        |    FROM documents))
        |SELECT doc_a, doc_b, sa.split split_a, sb.split split_b,
        |  n_match, n_match / 16.0 AS est_jaccard
        |FROM m JOIN sp sa ON sa.doc_id = doc_a
        |  JOIN sp sb ON sb.doc_id = doc_b
        |WHERE n_match / 16.0 >= 0.5 AND sa.split <> sb.split
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q118_encoding_quality" ->
      ("""WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN 'Ã©' || text
        |      WHEN doc_id % 13 = 1 THEN text || '�'
        |      ELSE text END t
        |  FROM documents),
        |c AS (SELECT doc_id, t,
        |    CAST(length(t) - length(replace(t, '�', '')) AS BIGINT)
        |      n_replacement,
        |    CAST(""" + TextAnalysis.MojibakeSignatures.map(s =>
          s"(length(t) - length(replace(t, '$s', ''))) // ${s.length}")
          .mkString(" + ") + """ AS BIGINT) n_mojibake,
        |    CAST(len(regexp_extract_all(t,
        |      '[\x00-\x08\x0b\x0c\x0e-\x1f]')) AS BIGINT) n_control
        |  FROM d)
        |SELECT doc_id, n_replacement, n_mojibake, n_control,
        |  n_replacement = 0 AND n_mojibake = 0 AND n_control = 0
        |    AS encoding_ok
        |FROM c ORDER BY doc_id""").stripMargin,

    "q119_ngram_novelty" ->
      """WITH w AS (SELECT doc_id, doc_id % 10 = 0 AS is_ref,
        |    list_filter(string_split(lower(text),' '), t -> t <> '') ws
        |  FROM documents),
        |pos AS (SELECT doc_id, is_ref, ws,
        |    unnest(generate_series(1, greatest(0, len(ws)-2))) i FROM w),
        |sh AS (SELECT DISTINCT doc_id, is_ref,
        |    array_to_string(ws[i:i+2], ' ') s FROM pos),
        |ref AS (SELECT DISTINCT s FROM sh WHERE is_ref)
        |SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) n_grams,
        |  CAST(COUNT(ref.s) AS BIGINT) n_seen,
        |  1.0 - COUNT(ref.s) / COUNT(*) AS novelty
        |FROM sh LEFT JOIN ref ON ref.s = sh.s
        |WHERE NOT is_ref GROUP BY 1 ORDER BY 1""".stripMargin,

    "q120_template_dedup" ->
      """WITH base AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000,
        |    'order 12345 from user a@b.com: ' || text
        |  FROM documents WHERE doc_id % 11 = 0
        |  UNION ALL SELECT doc_id + 200000,
        |    'order 99999 from user c@d.org: ' || text
        |  FROM documents WHERE doc_id % 11 = 0),
        |m AS (SELECT doc_id, regexp_replace(regexp_replace(
        |    regexp_replace(text, 'https?://[^ ]+', '<URL>', 'g'),
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
        |    '<EMAIL>', 'g'),
        |    '[0-9]+', '<NUM>', 'g') t FROM base)
        |SELECT md5(t) template_hash,
        |  CAST(MIN(doc_id) AS BIGINT) canonical_id,
        |  CAST(COUNT(*) AS BIGINT) n_copies
        |FROM m GROUP BY 1 HAVING COUNT(*) >= 2
        |ORDER BY 1""".stripMargin,

    "q121_data_card" ->
      """WITH w AS (SELECT doc_id, source AS stratum, text,
        |    CAST(length(text) AS BIGINT) n_chars,
        |    list_filter(string_split(lower(text),' '), t -> t <> '') ws
        |  FROM documents),
        |c AS (SELECT doc_id, stratum, text, n_chars,
        |    CAST(len(ws) AS BIGINT) n_tokens,
        |    CAST(len(list_filter(ws,
        |      t -> list_contains(['the','a','and','of','to','in'], t)))
        |      AS BIGINT) n_stop
        |  FROM w),
        |f AS (SELECT doc_id, stratum, n_tokens,
        |    (n_tokens >= 10 AND n_stop / n_tokens >= 0.01
        |      AND n_stop / n_tokens <= 0.6
        |      AND (n_chars - (n_tokens - 1)) / n_tokens <= 12.0)
        |      AS quality_ok,
        |    (len(regexp_extract_all(text,
        |       '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))
        |     + len(regexp_extract_all(text,
        |       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
        |     + len(regexp_extract_all(text,
        |       '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b'))
        |     + len(regexp_extract_all(text,
        |       '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b'))) > 0 AS has_pii,
        |    md5(text) h
        |  FROM c),
        |canon AS (SELECT h, MIN(doc_id) can FROM f GROUP BY 1)
        |SELECT stratum, CAST(COUNT(*) AS BIGINT) n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) n_tokens_total,
        |  CAST(SUM(n_tokens) AS BIGINT) // COUNT(*) AS mean_tokens,
        |  COUNT(CASE WHEN quality_ok THEN 1 END) * 1000 // COUNT(*)
        |    AS quality_ok_permille,
        |  COUNT(CASE WHEN has_pii THEN 1 END) * 1000 // COUNT(*)
        |    AS pii_permille,
        |  COUNT(CASE WHEN doc_id <> can THEN 1 END) * 1000 // COUNT(*)
        |    AS dup_copy_permille
        |FROM f JOIN canon USING (h) GROUP BY 1 ORDER BY 1""".stripMargin,

    "q122_group_dispersion" ->
      """WITH e AS (SELECT vec_id, label grp,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) qv
        |  FROM embeddings),
        |ed AS (SELECT vec_id, grp, generate_subscripts(qv, 1) d,
        |    unnest(qv) x FROM e),
        |bd AS (SELECT grp, d,
        |    CAST(floor(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) c
        |  FROM ed GROUP BY 1, 2),
        |cn AS (SELECT grp, CAST(SUM(c*c) AS BIGINT) c_nrm FROM bd
        |  GROUP BY 1),
        |dots AS (SELECT ed.vec_id, ed.grp,
        |    CAST(SUM(ed.x * bd.c) AS BIGINT) dot,
        |    CAST(SUM(ed.x * ed.x) AS BIGINT) nrm
        |  FROM ed JOIN bd ON bd.grp = ed.grp AND bd.d = ed.d
        |  GROUP BY 1, 2),
        |pmy AS (SELECT grp,
        |    CAST(floor((dot / sqrt(CAST(nrm * c_nrm AS DOUBLE)) + 1.0)
        |      * 10000) AS BIGINT) cos1_pmy
        |  FROM dots JOIN cn USING (grp))
        |SELECT grp, CAST(COUNT(*) AS BIGINT) n_vecs,
        |  CAST(SUM(cos1_pmy) AS BIGINT) // COUNT(*) - 10000
        |    AS mean_cos_pmy
        |FROM pmy GROUP BY 1 ORDER BY 1""".stripMargin,

    "q123_pq_recall" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) qv
        |  FROM embeddings),
        |ed AS (SELECT vec_id, generate_subscripts(qv, 1) d, unnest(qv) v FROM e),
        |nrm AS (SELECT vec_id, CAST(SUM(v*v) AS BIGINT) nrm FROM ed GROUP BY 1),
        |q AS (SELECT vec_id query_id, d, v FROM ed WHERE vec_id IN (0,1,2,3,4)),
        |dots AS (SELECT q.query_id, ed.vec_id, CAST(SUM(q.v * ed.v) AS BIGINT) dot
        |  FROM q JOIN ed ON q.d = ed.d WHERE ed.vec_id <> q.query_id
        |  GROUP BY 1, 2),
        |scored AS (SELECT query_id, dots.vec_id AS vec_id,
        |    dot / sqrt(CAST(na.nrm * nb.nrm AS DOUBLE)) AS cosine
        |  FROM dots JOIN nrm na ON na.vec_id = query_id
        |    JOIN nrm nb ON nb.vec_id = dots.vec_id),
        |exact AS (SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY cosine DESC, vec_id) rank
        |    FROM scored) WHERE rank <= 5),
        |sd AS (SELECT vec_id, CAST((d-1)//8 AS BIGINT) m, d, v FROM ed),
        |cd AS (SELECT vec_id AS code, m, d, v cv FROM sd WHERE vec_id < 16),
        |dist AS (SELECT s.vec_id, s.m, c.code,
        |    CAST(SUM((s.v - c.cv)*(s.v - c.cv)) AS BIGINT) dist2
        |  FROM sd s JOIN cd c ON c.m = s.m AND c.d = s.d
        |  GROUP BY 1, 2, 3),
        |best AS (SELECT vec_id, m, code, dist2 FROM (
        |    SELECT vec_id, m, code, dist2, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id, m ORDER BY dist2, code) rn FROM dist)
        |  WHERE rn = 1),
        |qd AS (SELECT vec_id query_id, m, code, dist2 FROM dist
        |  WHERE vec_id IN (0, 1, 2, 3, 4)),
        |adc AS (SELECT qd.query_id, b.vec_id,
        |    CAST(SUM(qd.dist2) AS BIGINT) adc
        |  FROM best b JOIN qd ON qd.m = b.m AND qd.code = b.code
        |  WHERE b.vec_id <> qd.query_id GROUP BY 1, 2),
        |approx AS (SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY adc, vec_id) rank FROM adc)
        |  WHERE rank <= 5),
        |kk AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) k
        |  FROM exact GROUP BY 1),
        |h AS (SELECT e2.query_id, CAST(COUNT(*) AS BIGINT) n_hits
        |  FROM exact e2 JOIN approx a2
        |    ON a2.query_id = e2.query_id AND a2.vec_id = e2.vec_id
        |  GROUP BY 1)
        |SELECT kk.query_id, kk.k, coalesce(h.n_hits, 0) AS n_hits,
        |  coalesce(h.n_hits, 0) / kk.k AS recall
        |FROM kk LEFT JOIN h USING (query_id)
        |ORDER BY kk.query_id""".stripMargin,

    "q124_length_buckets" ->
      """WITH w AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split(lower(text),' '),
        |      t -> t <> '')) AS BIGINT) n
        |  FROM documents),
        |b AS (SELECT doc_id, n,
        |    CAST(length(bin(n)) - 1 AS BIGINT) bucket
        |  FROM w WHERE n >= 1),
        |g AS (SELECT bucket, MIN(n) min_tokens, MAX(n) max_tokens,
        |    CAST(COUNT(*) AS BIGINT) n_docs,
        |    CAST(SUM(n) AS BIGINT) token_mass
        |  FROM b GROUP BY 1)
        |SELECT bucket, min_tokens, max_tokens, n_docs, token_mass,
        |  n_docs * max_tokens AS padded_mass,
        |  (n_docs * max_tokens - token_mass) * 1000
        |    // (n_docs * max_tokens) AS waste_permille
        |FROM g ORDER BY bucket""".stripMargin,

    "q125_source_matrix" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split(lower(text),' '), t -> t <> '') ws
        |  FROM documents),
        |pos AS (SELECT doc_id, ws,
        |    unnest(generate_series(1, greatest(0, len(ws)-2))) i FROM w),
        |sh AS (SELECT DISTINCT doc_id,
        |    array_to_string(ws[i:i+2], ' ') s FROM pos),
        |hs AS (SELECT doc_id, md5('1:' || s) || md5('2:' || s) h FROM sh),
        |sigs AS (SELECT doc_id, k, MIN(substr(h, k*4 + 1, 4)) sig
        |  FROM hs CROSS JOIN (SELECT unnest(generate_series(0,15)) k) t
        |  GROUP BY 1, 2),
        |bands AS (SELECT doc_id, k//2 AS band,
        |    md5(string_agg(sig, '|' ORDER BY k)) bkey
        |  FROM sigs GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT x.doc_id doc_a, y.doc_id doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
        |m AS (SELECT doc_a, doc_b,
        |    COUNT(*) FILTER (sa.sig = sb.sig) AS n_match
        |  FROM cand JOIN sigs sa ON sa.doc_id = doc_a
        |    JOIN sigs sb ON sb.doc_id = doc_b AND sb.k = sa.k
        |  GROUP BY 1, 2),
        |p AS (SELECT doc_a, doc_b FROM m WHERE n_match / 16.0 >= 0.5)
        |SELECT least(da.source, db.source) src_a,
        |  greatest(da.source, db.source) src_b,
        |  CAST(COUNT(*) AS BIGINT) n_pairs
        |FROM p JOIN documents da ON da.doc_id = doc_a
        |  JOIN documents db ON db.doc_id = doc_b
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q126_curation_funnel" ->
      ("""WITH b AS (SELECT doc_id, text t,
        |    CAST(len(list_filter(string_split(lower(text),' '),
        |      x -> x <> '')) AS BIGINT) n_tokens
        |  FROM documents),
        |encg AS (SELECT * FROM b WHERE
        |    length(t) - length(replace(t, '�', '')) = 0
        |    AND (""" + TextAnalysis.MojibakeSignatures.map(s =>
          s"(length(t) - length(replace(t, '$s', ''))) // ${s.length}")
          .mkString(" + ") + """) = 0
        |    AND len(regexp_extract_all(t,
        |      '[\x00-\x08\x0b\x0c\x0e-\x1f]')) = 0),
        |qw AS (SELECT doc_id, t, n_tokens,
        |    CAST(length(t) AS BIGINT) n_chars,
        |    CAST(len(list_filter(string_split(lower(t),' '),
        |      x -> list_contains(['the','a','and','of','to','in'], x)))
        |      AS BIGINT) n_stop
        |  FROM encg),
        |qual AS (SELECT doc_id, t, n_tokens FROM qw WHERE
        |    n_tokens >= 10 AND n_stop / n_tokens >= 0.01
        |    AND n_stop / n_tokens <= 0.6
        |    AND (n_chars - (n_tokens - 1)) / n_tokens <= 12.0),
        |ex AS (SELECT q1.doc_id, q1.t, q1.n_tokens FROM qual q1
        |  JOIN (SELECT md5(t) h, MIN(doc_id) can FROM qual GROUP BY 1) c
        |  ON md5(q1.t) = c.h AND q1.doc_id = c.can),
        |w2 AS (SELECT doc_id,
        |    list_filter(string_split(lower(t),' '), x -> x <> '') ws
        |  FROM ex),
        |pos2 AS (SELECT doc_id, ws,
        |    unnest(generate_series(1, greatest(0, len(ws)-2))) i FROM w2),
        |sh2 AS (SELECT DISTINCT doc_id,
        |    array_to_string(ws[i:i+2], ' ') s FROM pos2),
        |n2 AS (SELECT doc_id, COUNT(*) n_sh FROM sh2 GROUP BY 1),
        |p2 AS (SELECT a.doc_id doc_a, b2.doc_id doc_b, COUNT(*) shared
        |  FROM sh2 a JOIN sh2 b2 ON a.s = b2.s AND a.doc_id < b2.doc_id
        |  GROUP BY 1, 2),
        |drop2 AS (SELECT DISTINCT doc_b AS doc_id FROM p2
        |  JOIN n2 na ON na.doc_id = doc_a
        |  JOIN n2 nb ON nb.doc_id = doc_b
        |  WHERE shared / (na.n_sh + nb.n_sh - shared) >= 0.5),
        |nr AS (SELECT * FROM ex
        |  WHERE doc_id NOT IN (SELECT doc_id FROM drop2))
        |SELECT '0_raw' stage, CAST(COUNT(*) AS BIGINT) n_docs,
        |  CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) token_mass FROM b
        |UNION ALL SELECT '1_encoding', CAST(COUNT(*) AS BIGINT),
        |  CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM encg
        |UNION ALL SELECT '2_quality', CAST(COUNT(*) AS BIGINT),
        |  CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM qual
        |UNION ALL SELECT '3_exact_dedup', CAST(COUNT(*) AS BIGINT),
        |  CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM ex
        |UNION ALL SELECT '4_near_dedup', CAST(COUNT(*) AS BIGINT),
        |  CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM nr
        |ORDER BY stage""").stripMargin,

    "q127_overlap_measures" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split(lower(text),' '), t -> t <> '') ws
        |  FROM documents),
        |pos AS (SELECT doc_id, ws,
        |    unnest(generate_series(1, greatest(0, len(ws)-2))) i FROM w),
        |sh AS (SELECT DISTINCT doc_id,
        |    array_to_string(ws[i:i+2], ' ') s FROM pos),
        |n AS (SELECT doc_id, COUNT(*) n_sh FROM sh GROUP BY 1),
        |p AS (SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) shared
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, shared,
        |  shared / (na.n_sh + nb.n_sh - shared) AS jaccard,
        |  CASE WHEN na.n_sh <= nb.n_sh THEN doc_a ELSE doc_b END
        |    AS contained_doc,
        |  shared / least(na.n_sh, nb.n_sh) AS containment
        |FROM p JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b
        |WHERE shared / (na.n_sh + nb.n_sh - shared) >= 0.5
        |   OR shared / least(na.n_sh, nb.n_sh) >= 0.6
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q104_exactk_sample" ->
      """WITH d AS (SELECT doc_id, source AS stratum,
        |    substr(md5(CAST(doc_id AS VARCHAR) || ':exactk:' || source),
        |      1, 12) h
        |  FROM documents),
        |r AS (SELECT stratum, doc_id, row_number() OVER (
        |    PARTITION BY stratum ORDER BY h, doc_id) rk FROM d)
        |SELECT stratum, CAST(rk AS BIGINT) AS rank, doc_id FROM r
        |WHERE rk <= 10 ORDER BY stratum, rk""".stripMargin
    )
    // q65 is the row_number-window form of q19's aggregator rank, and
    // q76 the star-contraction form of q53's cluster labels — same
    // rows, same oracles
    withPathEqualityTwins(base ++ extra +
      ("q65_cosine_topk_window" -> base("q19_cosine_topk")) +
      ("q76_cc_stars" -> base("q53_dedup_clusters")) +
      ("q169_session_summary_sharded" -> base("q42_session_summary")) +
      ("q171_session_limit_sharded" -> base("q14_session_limit")) +
      ("q172_private_relay_sharded" -> base("q46_private_relay")) +
      ("q173_sequence_abuse_sharded" -> base("q69_sequence_abuse")) +
      ("q176_alias_abuse_sharded" -> base("q52_alias_abuse")) +
      ("q178_session_summary_auto" -> base("q42_session_summary")) +
      ("q186_private_relay_auto" -> base("q46_private_relay")) +
      ("q187_sequence_abuse_auto" -> base("q69_sequence_abuse")) +
      ("q180_ivf_artifact" -> base("q66_ivf_refined")) +
      ("q181_quality_classifier_artifact" -> extra("q94_quality_classifier")) +
      ("q182_surprisal_artifact" -> extra("q89_surprisal")) +
      ("q183_dsir_artifact" -> extra("q102_dsir")) +
      ("q184_pq_artifact" -> extra("q114_pq_adc_topk")) +
      // qualityMixStream's batch twin: q94's training/scoring CTEs +
      // the synthesized-arrival window rollup
      ("q185_quality_mix_windows" ->
        """WITH w AS (SELECT doc_id,
          |    list_filter(string_split(lower(text), ' '), t -> t <> '') ws
          |  FROM documents),
          |lab AS (SELECT doc_id, ws,
          |    len(list_filter(ws,
          |      t -> t IN ('vector', 'stream', 'batch'))) >= 3 AS l_pos
          |  FROM w WHERE doc_id % 2 = 0),
          |tr AS (SELECT unnest(ws) tok, l_pos FROM lab),
          |model AS (SELECT tok,
          |    CAST(SUM(CASE WHEN l_pos THEN 1 ELSE 0 END) AS BIGINT) c_pos,
          |    CAST(SUM(CASE WHEN NOT l_pos THEN 1 ELSE 0 END) AS BIGINT) c_neg
          |  FROM tr GROUP BY 1),
          |tot AS (SELECT
          |    CAST(SUM(CASE WHEN l_pos THEN 1 ELSE 0 END) AS BIGINT) t_pos,
          |    CAST(SUM(CASE WHEN NOT l_pos THEN 1 ELSE 0 END) AS BIGINT) t_neg
          |  FROM tr),
          |ct AS (SELECT doc_id, unnest(ws) tok FROM w),
          |sc AS (SELECT doc_id,
          |    ((length(bin(COALESCE(c_pos, 0) + 1)) - 1)
          |      - (length(bin(t_pos)) - 1))
          |    - ((length(bin(COALESCE(c_neg, 0) + 1)) - 1)
          |      - (length(bin(t_neg)) - 1)) AS s
          |  FROM ct LEFT JOIN model USING (tok) CROSS JOIN tot),
          |doc AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) > 0 AS pred_quality
          |  FROM sc GROUP BY 1)
          |SELECT CAST((1700000000 + doc_id * 60) // 600 * 600 * 1000
          |    AS BIGINT) AS window_start_ms,
          |  pred_quality, CAST(COUNT(*) AS BIGINT) AS n_docs
          |FROM doc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) +
      ("q175_lang_profiles" ->
        // q160's lp training CTE standalone: identical normalization
        // on the seed subset, per-language trigram counts, rank
        // profiles as a row_number window (ties broken by gram) —
        // the window form IS the oracle for the bounded aggregator
        """WITH norm AS (SELECT doc_id, lang,
          |    ' ' || trim(regexp_replace(lower(substr(text, 1, 4096)),
          |      '[^a-z]+', ' ', 'g'))
          |      || ' ' AS s
          |  FROM documents WHERE doc_id % 10 < 3),
          |g AS (SELECT lang,
          |    unnest(list_transform(range(1, greatest(length(s) - 1, 1)),
          |      i -> substring(s, CAST(i AS INT), 3))) AS gram
          |  FROM norm),
          |lp0 AS (SELECT lang, gram, COUNT(*) AS cnt FROM g
          |  GROUP BY 1, 2),
          |lp AS (SELECT lang, gram,
          |    ROW_NUMBER() OVER (PARTITION BY lang
          |      ORDER BY cnt DESC, gram ASC) AS rank
          |  FROM lp0 QUALIFY rank <= 64)
          |SELECT lang, gram, CAST(rank AS BIGINT) AS rank
          |FROM lp ORDER BY lang, rank""".stripMargin) +
      ("q95_bpe_merges" -> bpeMergesSql(6)) +
      ("q96_bpe_encode" -> bpeEncodeSql(6)) +
      // the shipped-tokenizer serving path: q96's oracle verbatim
      ("q179_bpe_artifact" -> bpeEncodeSql(6)) +
      ("q129_bpe_batched" -> bpeBatchedSql(64, 2)) +
      ("q136_bpe_fertility" -> bpeFertilitySql(6)) +
      ("q166_key_skew_card" -> keySkewCardSql) +
      ("q167_lang_fertility" -> langFertilitySql(6)) +
      ("q168_key_skew_windows" -> keySkewWindowsSql) +
      // the streaming epilogue's batch twin: same finalized counts,
      // same card function — q168's oracle verbatim
      ("q177_key_skew_stream_epilogue" -> keySkewWindowsSql) +
      ("q170_hot_keys" ->
        """WITH c AS (SELECT user_id AS k, COUNT(*) AS n FROM events
          |  GROUP BY 1),
          |t AS (SELECT CAST(SUM(n) AS BIGINT) total FROM c),
          |r AS (SELECT k, n,
          |    row_number() OVER (ORDER BY n DESC, k ASC) rk
          |  FROM c QUALIFY rk <= 10)
          |SELECT CAST(rk AS BIGINT) AS rank,
          |  CAST(k AS BIGINT) AS hot_key, CAST(n AS BIGINT) AS n,
          |  CAST(n * 1000000 // t.total AS BIGINT) AS share_ppm
          |FROM r, t ORDER BY rank""".stripMargin) +
      ("q105_gear_chunks" -> gearSql(
        """d AS (SELECT doc_id, text AS t, length(text) AS n
          |  FROM documents WHERE length(text) >= 1)""".stripMargin,
        """SELECT doc_id, chunk_no, "start", chunk_len, chunk_md5
          |FROM chunks ORDER BY doc_id, chunk_no""".stripMargin)) +
      ("q106_gear_dedup" -> gearSql(
        s"""d AS (SELECT doc_id, t, length(t) AS n FROM (
           |    SELECT doc_id, CASE WHEN doc_id % 7 = 0
           |      THEN text || ' $GearPassage' ELSE text END AS t
           |    FROM documents)
           |  WHERE length(t) >= 1)""".stripMargin,
        """SELECT chunk_md5, COUNT(DISTINCT doc_id) AS n_docs,
          |  COUNT(*) AS n_occ, MIN(doc_id) AS first_doc,
          |  MIN(chunk_len) AS chunk_len
          |FROM chunks GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 1
          |ORDER BY chunk_md5""".stripMargin)) +
      ("q140_salted_join" ->
        """WITH dim AS (SELECT event_type, COUNT(*) AS type_n,
          |    MIN(event_id) AS first_event
          |  FROM events GROUP BY 1)
          |SELECT e.event_id, e.event_type, d.type_n, d.first_event
          |FROM events e JOIN dim d USING (event_type)
          |ORDER BY e.event_id""".stripMargin) +
      ("q141_suppress_count" ->
        """WITH RECURSIVE ev AS (
          |  SELECT user_id,
          |    (epoch_us(ts) // 600000000) * 600000000 AS wus,
          |    COUNT(*) AS n
          |  FROM events GROUP BY 1, 2),
          |s AS (
          |  SELECT user_id, wus, n FROM (
          |    SELECT user_id, wus, n, row_number() OVER (
          |      PARTITION BY user_id ORDER BY wus) rn FROM ev)
          |  WHERE rn = 1
          |  UNION ALL
          |  SELECT s.user_id,
          |    (SELECT MIN(e.wus) FROM ev e WHERE e.user_id = s.user_id
          |       AND e.wus > s.wus
          |       AND (e.wus - s.wus > 1800000000 OR e.n <> s.n)) AS wus,
          |    (SELECT e.n FROM ev e WHERE e.user_id = s.user_id
          |       AND e.wus =
          |      (SELECT MIN(e2.wus) FROM ev e2
          |       WHERE e2.user_id = s.user_id AND e2.wus > s.wus
          |         AND (e2.wus - s.wus > 1800000000 OR e2.n <> s.n)))
          |      AS n
          |  FROM s
          |  WHERE (SELECT MIN(e.wus) FROM ev e
          |     WHERE e.user_id = s.user_id AND e.wus > s.wus
          |       AND (e.wus - s.wus > 1800000000 OR e.n <> s.n))
          |    IS NOT NULL)
          |SELECT user_id, wus // 1000 AS ts_ms, n FROM s
          |ORDER BY user_id, ts_ms""".stripMargin) +
      ("q143_endpoint_abuse_suppressed" ->
        """WITH RECURSIVE f AS (SELECT ts,
          |    '10.4.0.' || (user_id % 5) AS addr,
          |    CASE WHEN event_type = 'purchase' THEN 'POST'
          |      ELSE 'GET' END AS method,
          |    '/e/' || event_type AS path,
          |    'ua-' || (user_id % 5) AS ua
          |  FROM events
          |  WHERE event_type IN ('view', 'purchase')
          |     OR (event_type = 'click' AND user_id % 7 = 0)),
          |m AS (SELECT *, CASE
          |    WHEN method = 'GET' AND path = '/e/view' THEN 0
          |    WHEN method = 'POST' AND path = '/e/purchase' THEN 1
          |    END AS mi FROM f),
          |s0 AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
          |    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 3600000000
          |  THEN 1 ELSE 0 END AS ns
          |  FROM m WINDOW w AS (PARTITION BY addr ORDER BY ts)),
          |s AS (SELECT addr, ts, mi, ua, CAST(SUM(ns) OVER (
          |    PARTITION BY addr ORDER BY ts ROWS UNBOUNDED PRECEDING)
          |    AS BIGINT) AS session_id FROM s0),
          |g AS (SELECT addr, session_id,
          |    COUNT(CASE WHEN mi = 0 THEN 1 END) AS n0,
          |    COUNT(CASE WHEN mi = 1 THEN 1 END) AS n1,
          |    COUNT(CASE WHEN mi IS NULL THEN 1 END) AS nv,
          |    epoch_ms(MAX(CASE WHEN mi IS NOT NULL THEN ts END))
          |      AS latest_ts_ms,
          |    MAX(CASE WHEN mi IS NOT NULL THEN ua END) AS useragent,
          |    epoch_ms(MAX(ts)) AS last_ms
          |  FROM s GROUP BY 1, 2),
          |q AS (SELECT *,
          |    CASE WHEN n0 >= 2 THEN n0 END AS q0,
          |    CASE WHEN n1 >= 2 THEN n1 END AS q1
          |  FROM g WHERE nv = 0),
          |b AS (SELECT *,
          |    CASE WHEN q0 IS NOT NULL
          |        AND q0 = GREATEST(COALESCE(q0, -1), COALESCE(q1, -1))
          |      THEN 0
          |      WHEN q1 IS NOT NULL
          |        AND q1 = GREATEST(COALESCE(q0, -1), COALESCE(q1, -1))
          |      THEN 1 END AS best
          |  FROM q),
          |al AS (SELECT addr, session_id,
          |    CASE best WHEN 0 THEN 'GET' ELSE 'POST' END
          |      AS endpoint_method,
          |    CASE best WHEN 0 THEN '/e/view' ELSE '/e/purchase'
          |      END AS endpoint_path,
          |    CASE best WHEN 0 THEN n0 ELSE n1 END AS n,
          |    latest_ts_ms, useragent,
          |    last_ms + 3600000 - 1 AS window_max_ts_ms
          |  FROM b WHERE best IS NOT NULL),
          |sc AS (
          |  SELECT addr, latest_ts_ms, n FROM (
          |    SELECT addr, latest_ts_ms, n, row_number() OVER (
          |      PARTITION BY addr ORDER BY latest_ts_ms) rn FROM al)
          |  WHERE rn = 1
          |  UNION ALL
          |  SELECT sc.addr,
          |    (SELECT MIN(e.latest_ts_ms) FROM al e
          |     WHERE e.addr = sc.addr
          |       AND e.latest_ts_ms > sc.latest_ts_ms
          |       AND (e.latest_ts_ms - sc.latest_ts_ms > 7200000
          |         OR e.n <> sc.n)) AS latest_ts_ms,
          |    (SELECT e.n FROM al e WHERE e.addr = sc.addr
          |       AND e.latest_ts_ms =
          |      (SELECT MIN(e2.latest_ts_ms) FROM al e2
          |       WHERE e2.addr = sc.addr
          |         AND e2.latest_ts_ms > sc.latest_ts_ms
          |         AND (e2.latest_ts_ms - sc.latest_ts_ms > 7200000
          |           OR e2.n <> sc.n))) AS n
          |  FROM sc
          |  WHERE (SELECT MIN(e.latest_ts_ms) FROM al e
          |     WHERE e.addr = sc.addr
          |       AND e.latest_ts_ms > sc.latest_ts_ms
          |       AND (e.latest_ts_ms - sc.latest_ts_ms > 7200000
          |         OR e.n <> sc.n)) IS NOT NULL)
          |SELECT al.addr, al.session_id, al.endpoint_method,
          |  al.endpoint_path, al.n, al.latest_ts_ms, al.useragent,
          |  al.window_max_ts_ms
          |FROM al JOIN sc USING (addr, latest_ts_ms, n)
          |ORDER BY al.addr, al.session_id""".stripMargin) +
      ("q144_crit_object_suppressed" ->
        // the session suppressor rewrites its state on EVERY element
        // (emitted or suppressed), so "last seen" is simply the
        // previous event for the key — a lag window, no recursion
        """WITH f AS (
          |  SELECT epoch_ms(ts) AS ts_ms,
          |    'u' || (user_id % 20) AS username,
          |    CASE WHEN event_type = 'error' THEN '/etc/shadow'
          |         WHEN event_type = 'purchase'
          |           THEN 'secrets/key' || (user_id % 3)
          |         ELSE 'public/' || event_type END AS object,
          |    '10.9.0.' || (user_id % 4) AS sourceaddress
          |  FROM events),
          |a AS (SELECT DISTINCT ts_ms, username, object, sourceaddress,
          |    'critical_object_analyze' AS subcategory,
          |    'critical' AS severity,
          |    username || '_' || object || '_' || sourceaddress
          |      AS suppression_key,
          |    'critical authentication event observed ' || username ||
          |      ' to ' || object || ', ' || sourceaddress ||
          |      ' [unknown/unknown]' AS summary,
          |    'secops@example.com' AS notify_email_direct,
          |    CAST(NULL AS VARCHAR) AS notify_slack_supplementary,
          |    CAST(NULL AS VARCHAR) AS slack_supplementary_message
          |  FROM f
          |  WHERE object LIKE '/etc/%' OR object LIKE 'secrets/%'),
          |g AS (SELECT *, lag(ts_ms) OVER (
          |    PARTITION BY suppression_key ORDER BY ts_ms) AS prev_ms
          |  FROM a)
          |SELECT ts_ms, username, object, sourceaddress, subcategory,
          |  severity, suppression_key, summary, notify_email_direct,
          |  notify_slack_supplementary, slack_supplementary_message
          |FROM g WHERE prev_ms IS NULL OR ts_ms - prev_ms > 1800000
          |ORDER BY suppression_key, ts_ms""".stripMargin) +
      ("q145_epoch_shuffle" ->
        // shard = first 48 bits of the per-epoch key mod 16 = the
        // value of hex digit 12; fixed-width lowercase hex sorts
        // lexicographically in numeric order
        """WITH t AS (SELECT doc_id,
          |    CAST(len(list_filter(string_split(lower(text), ' '),
          |      x -> x <> '')) AS BIGINT) AS n_tokens
          |  FROM documents),
          |e AS (SELECT ep.epoch, doc_id, n_tokens,
          |    md5(CAST(ep.epoch AS VARCHAR) || ':epoch:' ||
          |      CAST(doc_id AS VARCHAR)) AS okey
          |  FROM t CROSS JOIN
          |    (SELECT unnest(range(0, 3)) AS epoch) ep),
          |s AS (SELECT epoch, doc_id, n_tokens, okey,
          |    CAST(strpos('0123456789abcdef', okey[12]) - 1 AS BIGINT)
          |      AS shard
          |  FROM e),
          |r AS (SELECT epoch, shard, doc_id, n_tokens, okey,
          |    row_number() OVER (PARTITION BY epoch, shard
          |      ORDER BY okey, doc_id) AS pos,
          |    COALESCE(CAST(SUM(n_tokens) OVER (
          |      PARTITION BY epoch, shard ORDER BY okey, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          |      AS BIGINT), 0) AS start_offset
          |  FROM s)
          |SELECT CAST(epoch AS BIGINT) AS epoch, shard,
          |  CAST(pos AS BIGINT) AS pos, doc_id, n_tokens, start_offset
          |FROM r ORDER BY epoch, shard, pos""".stripMargin) +
      ("q146_mixture_interleave" ->
        """WITH d AS (SELECT doc_id, source AS stratum,
          |    md5(CAST(doc_id AS VARCHAR) || ':interleave:' || source)
          |      AS okey
          |  FROM documents),
          |s AS (SELECT doc_id, stratum, okey,
          |    CAST(strpos('0123456789abcdef', okey[11]) - 1 AS BIGINT)
          |      * 16
          |    + CAST(strpos('0123456789abcdef', okey[12]) - 1
          |      AS BIGINT) AS b2,
          |    CASE WHEN stratum = 'src0' THEN 600000
          |      WHEN stratum = 'src1' THEN 100000
          |      ELSE 50000 END AS ppm
          |  FROM d),
          |sh AS (SELECT doc_id, stratum, okey, ppm, b2 % 4 AS shard
          |  FROM s WHERE ppm > 0),
          |r AS (SELECT shard, stratum, doc_id, ppm, okey,
          |    CAST(row_number() OVER (PARTITION BY shard, stratum
          |      ORDER BY okey, doc_id) AS BIGINT) AS rk
          |  FROM sh),
          |v AS (SELECT shard, stratum, doc_id,
          |    rk * 1000000 // ppm AS vtime FROM r)
          |SELECT shard,
          |  CAST(row_number() OVER (PARTITION BY shard
          |    ORDER BY vtime, stratum, doc_id) AS BIGINT) AS pos,
          |  vtime, stratum, doc_id
          |FROM v ORDER BY shard, pos""".stripMargin) +
      ("q147_unicode_dedup" ->
        // chr(233)=U+00E9, chr(239)=U+00EF (composed); chr(769)=U+0301
        // combining acute, chr(776)=U+0308 combining diaeresis
        // (decomposed); nfc_normalize makes the twin pair byte-equal
        """WITH base AS (SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id + 300000,
          |    'caf' || chr(233) || ' r' || chr(233) || 'sum' ||
          |    chr(233) || ' na' || chr(239) || 've: ' || text
          |  FROM documents WHERE doc_id % 13 = 0
          |  UNION ALL SELECT doc_id + 400000,
          |    'cafe' || chr(769) || ' re' || chr(769) || 'sume' ||
          |    chr(769) || ' nai' || chr(776) || 've: ' || text
          |  FROM documents WHERE doc_id % 13 = 0),
          |n AS (SELECT doc_id, md5(nfc_normalize(text)) AS h FROM base)
          |SELECT h AS norm_hash,
          |  CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
          |  CAST(COUNT(*) AS BIGINT) AS n_copies
          |FROM n GROUP BY 1 HAVING COUNT(*) >= 2
          |ORDER BY 1""".stripMargin) +
      ("q148_norm_grid_quantiles" ->
        // all DIV operands non-negative (norm2 >= 0, buckets > 0), so
        // DuckDB // floor == Spark DIV truncate
        """WITH e AS (SELECT label AS stratum,
          |    list_transform(embedding, x ->
          |      CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT))
          |      AS qv
          |  FROM embeddings),
          |b AS (SELECT stratum,
          |    CAST(list_sum(list_transform(qv, v -> v*v)) AS BIGINT)
          |      AS v
          |  FROM e),
          |bounds AS (SELECT stratum, MIN(v) AS v_min, MAX(v) AS v_max,
          |    CAST(COUNT(*) AS BIGINT) AS n_rows,
          |    CAST(SUM(v) AS BIGINT) AS sum_v
          |  FROM b GROUP BY 1),
          |bk AS (SELECT b.stratum,
          |    (v - v_min) * 256 // (v_max - v_min + 1) AS bkt
          |  FROM b JOIN bounds USING (stratum)),
          |hist AS (SELECT stratum, bkt, COUNT(*) AS f
          |  FROM bk GROUP BY 1, 2),
          |cum AS (SELECT stratum, bkt,
          |    SUM(f) OVER (PARTITION BY stratum ORDER BY bkt) AS cum,
          |    SUM(f) OVER (PARTITION BY stratum) AS n
          |  FROM hist),
          |sel AS (SELECT stratum,
          |    MIN(CASE WHEN cum*100 >= n*50 THEN bkt END) AS b50,
          |    MIN(CASE WHEN cum*100 >= n*90 THEN bkt END) AS b90,
          |    MIN(CASE WHEN cum*100 >= n*99 THEN bkt END) AS b99
          |  FROM cum GROUP BY 1)
          |SELECT stratum, n_rows, v_min, v_max,
          |  sum_v // n_rows AS mean_v,
          |  v_min + b50 * (v_max - v_min + 1) // 256 AS p50_lo,
          |  v_min + b90 * (v_max - v_min + 1) // 256 AS p90_lo,
          |  v_min + b99 * (v_max - v_min + 1) // 256 AS p99_lo
          |FROM bounds JOIN sel USING (stratum)
          |ORDER BY stratum""".stripMargin) +
      ("q149_rank_fusion" ->
        // rank() = competition rank (ties share), matching
        // globalRank's 1 + count(strictly better) bit-for-bit; all
        // DIV operands non-negative so DuckDB // == Spark DIV
        """WITH w AS (SELECT doc_id,
          |    list_filter(string_split(lower(text),' '), t -> t <> '') ws
          |  FROM documents),
          |s AS (SELECT doc_id, CAST(len(ws) AS BIGINT) n_tokens,
          |    CAST(len(list_distinct(ws)) AS BIGINT) n_types,
          |    CAST(len(list_filter(ws,
          |      t -> list_contains(['the','a','and','of','to','in'], t)))
          |      AS BIGINT) n_stop
          |  FROM w),
          |g AS (SELECT doc_id, n_tokens,
          |    n_types * 1000 // greatest(n_tokens, 1) AS lex_permille,
          |    n_stop * 1000 // greatest(n_tokens, 1) AS stop_permille
          |  FROM s),
          |r AS (SELECT doc_id,
          |    rank() OVER (ORDER BY n_tokens DESC) AS rank_tokens,
          |    rank() OVER (ORDER BY lex_permille DESC) AS rank_lex,
          |    rank() OVER (ORDER BY stop_permille DESC) AS rank_stop
          |  FROM g)
          |SELECT doc_id, rank_tokens, rank_lex, rank_stop,
          |  1000000000 // (60 + rank_tokens) +
          |  1000000000 // (60 + rank_lex) +
          |  1000000000 // (60 + rank_stop) AS rrf_score
          |FROM r ORDER BY doc_id""".stripMargin) +
      ("q150_kcenter_coreset" -> kCenterSql(6)) +
      ("q158_kmv_overlap" ->
        // same per-type k-min sketches as q154 (k=24, num=(k-1)*2^56);
        // union sketch = rank over the two sketches' merged distinct
        // hashes (k-min closure: the union's k smallest all lie in
        // sketch(A) ∪ sketch(B)); cnt=2 marks hashes in both sketches
        """WITH h AS (SELECT DISTINCT event_type,
          |    substr(md5(CAST(user_id AS VARCHAR)), 1, 14) AS hh
          |  FROM events WHERE user_id IS NOT NULL),
          |rk AS (SELECT event_type, hh,
          |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hh) rn
          |  FROM h),
          |sk AS (SELECT event_type, hh FROM rk WHERE rn <= 24),
          |t AS (SELECT DISTINCT event_type FROM sk),
          |p AS (SELECT a.event_type ta, b.event_type tb
          |  FROM t a JOIN t b ON a.event_type < b.event_type),
          |m AS (SELECT p.ta, p.tb, s.hh, COUNT(*) cnt
          |  FROM p JOIN sk s ON s.event_type IN (p.ta, p.tb)
          |  GROUP BY 1, 2, 3),
          |ru AS (SELECT ta, tb, hh, cnt,
          |    ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY hh) rn
          |  FROM m),
          |agg AS (SELECT ta, tb, CAST(COUNT(*) AS BIGINT) n_union_kept,
          |    MAX(CASE WHEN rn = 24 THEN hh END) kth,
          |    CAST(COUNT(CASE WHEN cnt = 2 THEN 1 END) AS BIGINT) n_common
          |  FROM ru WHERE rn <= 24 GROUP BY 1, 2),
          |e AS (SELECT ta, tb, n_union_kept, n_common,
          |    CASE WHEN kth IS NULL THEN n_union_kept
          |         ELSE CAST(1657324662872342528 //
          |           greatest(('0x' || kth)::BIGINT, 1) AS BIGINT)
          |    END AS est_union
          |  FROM agg)
          |SELECT ta AS type_a, tb AS type_b, n_union_kept, n_common,
          |  est_union,
          |  CAST(n_common * (est_union // n_union_kept) +
          |    (n_common * (est_union % n_union_kept)) // n_union_kept
          |    AS BIGINT) AS est_intersect,
          |  CAST(n_common * 1000 // n_union_kept AS BIGINT)
          |    AS jaccard_permille
          |FROM e ORDER BY 1, 2""".stripMargin) +
      ("q159_hash_reservoir" ->
        // the reservoir key: 14-hex md5 prefix + '-' + zero-padded hex
        // id — fixed width, so lexicographic order == (hash, id) order
        // in both engines
        """WITH h AS (SELECT source, doc_id,
          |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 14) || '-' ||
          |      lpad(hex(doc_id), 16, '0') AS hk
          |  FROM documents),
          |r AS (SELECT source, doc_id,
          |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY hk) rn
          |  FROM h)
          |SELECT source, CAST(rn AS BIGINT) AS rank, doc_id
          |FROM r WHERE rn <= 20 ORDER BY source, rank""".stripMargin) +
      ("q160_lang_id" ->
        // the Cavnar-Trenkle mirror: identical normalization (pad +
        // lower + non-letter collapse), trigram positions via a list
        // transform, rank profiles as row_number windows (ties broken
        // by gram), out-of-place distance with penalty 64 for grams
        // absent from a language profile, argmin via the zero-padded
        // dist||lang string min — every step integer-exact
        """WITH norm AS (SELECT doc_id, lang,
          |    ' ' || trim(regexp_replace(lower(substr(text, 1, 4096)),
          |      '[^a-z]+', ' ', 'g'))
          |      || ' ' AS s
          |  FROM documents),
          |g AS (SELECT doc_id, lang,
          |    unnest(list_transform(range(1, greatest(length(s) - 1, 1)),
          |      i -> substring(s, CAST(i AS INT), 3))) AS gram
          |  FROM norm),
          |lp0 AS (SELECT lang, gram, COUNT(*) AS cnt FROM g
          |  WHERE doc_id % 10 < 3 GROUP BY 1, 2),
          |lp AS (SELECT lang, gram,
          |    ROW_NUMBER() OVER (PARTITION BY lang
          |      ORDER BY cnt DESC, gram ASC) AS rl
          |  FROM lp0 QUALIFY rl <= 64),
          |dp0 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g
          |  GROUP BY 1, 2),
          |dp AS (SELECT doc_id, gram,
          |    ROW_NUMBER() OVER (PARTITION BY doc_id
          |      ORDER BY cnt DESC, gram ASC) AS rd
          |  FROM dp0 QUALIFY rd <= 32),
          |langs AS (SELECT DISTINCT lang FROM lp),
          |sc AS (SELECT dp.doc_id, langs.lang,
          |    SUM(coalesce(abs(dp.rd - lp.rl), 64)) AS dist
          |  FROM dp CROSS JOIN langs
          |  LEFT JOIN lp ON lp.lang = langs.lang AND lp.gram = dp.gram
          |  GROUP BY 1, 2),
          |best AS (SELECT doc_id,
          |    min(lpad(CAST(dist AS VARCHAR), 6, '0') || lang) AS bk
          |  FROM sc GROUP BY 1),
          |pred AS (SELECT doc_id, substring(bk, 7) AS pred_lang,
          |    CAST(substring(bk, 1, 6) AS BIGINT) AS dist
          |  FROM best)
          |SELECT d.lang, p.pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(p.dist) AS BIGINT) AS total_dist
          |FROM pred p JOIN documents d ON d.doc_id = p.doc_id
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) +
      ("q163_lang_quality_calibration" ->
        // q160's classifier chain feeding q135's histogram-quantile
        // body with stratum = predicted language
        """WITH norm AS (SELECT doc_id, lang,
          |    ' ' || trim(regexp_replace(lower(substr(text, 1, 4096)),
          |      '[^a-z]+', ' ', 'g'))
          |      || ' ' AS s
          |  FROM documents),
          |g AS (SELECT doc_id, lang,
          |    unnest(list_transform(range(1, greatest(length(s) - 1, 1)),
          |      i -> substring(s, CAST(i AS INT), 3))) AS gram
          |  FROM norm),
          |lp0 AS (SELECT lang, gram, COUNT(*) AS cnt FROM g
          |  WHERE doc_id % 10 < 3 GROUP BY 1, 2),
          |lp AS (SELECT lang, gram,
          |    ROW_NUMBER() OVER (PARTITION BY lang
          |      ORDER BY cnt DESC, gram ASC) AS rl
          |  FROM lp0 QUALIFY rl <= 64),
          |dp0 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g
          |  GROUP BY 1, 2),
          |dp AS (SELECT doc_id, gram,
          |    ROW_NUMBER() OVER (PARTITION BY doc_id
          |      ORDER BY cnt DESC, gram ASC) AS rd
          |  FROM dp0 QUALIFY rd <= 32),
          |langs AS (SELECT DISTINCT lang FROM lp),
          |sc AS (SELECT dp.doc_id, langs.lang,
          |    SUM(coalesce(abs(dp.rd - lp.rl), 64)) AS dist
          |  FROM dp CROSS JOIN langs
          |  LEFT JOIN lp ON lp.lang = langs.lang AND lp.gram = dp.gram
          |  GROUP BY 1, 2),
          |best AS (SELECT doc_id,
          |    min(lpad(CAST(dist AS VARCHAR), 6, '0') || lang) AS bk
          |  FROM sc GROUP BY 1),
          |pred AS (SELECT doc_id, substring(bk, 7) AS pred_lang
          |  FROM best),
          |w AS (SELECT doc_id, CAST(length(text) AS BIGINT) n_chars,
          |    list_filter(string_split(lower(text),' '), t -> t <> '') ws
          |  FROM documents),
          |c AS (SELECT doc_id, CAST(len(ws) AS BIGINT) n_tokens,
          |    CAST(len(list_filter(ws,
          |      t -> list_contains(['the','a','and','of','to','in'], t)))
          |      AS BIGINT) n_stop
          |  FROM w),
          |v AS (SELECT p.pred_lang AS stratum,
          |    CAST(n_stop * 1000 // n_tokens AS BIGINT) AS v
          |  FROM c JOIN pred p USING (doc_id) WHERE n_tokens >= 1),
          |h AS (SELECT stratum, v, COUNT(*) f FROM v GROUP BY 1, 2),
          |cm AS (SELECT stratum, v, f,
          |    CAST(SUM(f) OVER (PARTITION BY stratum ORDER BY v)
          |      AS BIGINT) cum,
          |    CAST(SUM(f) OVER (PARTITION BY stratum) AS BIGINT) n_rows,
          |    CAST(SUM(f*v) OVER (PARTITION BY stratum) AS BIGINT) sum_v
          |  FROM h)
          |SELECT stratum, MAX(n_rows) n_rows,
          |  MAX(sum_v) // MAX(n_rows) AS mean_v,
          |  MIN(CASE WHEN cum*100 >= n_rows*50 THEN v END) p50,
          |  MIN(CASE WHEN cum*100 >= n_rows*90 THEN v END) p90,
          |  MIN(CASE WHEN cum*100 >= n_rows*99 THEN v END) p99,
          |  MAX(v) max_v
          |FROM cm GROUP BY 1 ORDER BY 1""".stripMargin) +
      ("q162_lang_mix_windows" ->
        // q160's classifier chain + integer-epoch window math (// on
        // non-negative operands ≡ Spark DIV)
        """WITH norm AS (SELECT doc_id, lang,
          |    ' ' || trim(regexp_replace(lower(substr(text, 1, 4096)),
          |      '[^a-z]+', ' ', 'g'))
          |      || ' ' AS s
          |  FROM documents),
          |g AS (SELECT doc_id, lang,
          |    unnest(list_transform(range(1, greatest(length(s) - 1, 1)),
          |      i -> substring(s, CAST(i AS INT), 3))) AS gram
          |  FROM norm),
          |lp0 AS (SELECT lang, gram, COUNT(*) AS cnt FROM g
          |  WHERE doc_id % 10 < 3 GROUP BY 1, 2),
          |lp AS (SELECT lang, gram,
          |    ROW_NUMBER() OVER (PARTITION BY lang
          |      ORDER BY cnt DESC, gram ASC) AS rl
          |  FROM lp0 QUALIFY rl <= 64),
          |dp0 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g
          |  GROUP BY 1, 2),
          |dp AS (SELECT doc_id, gram,
          |    ROW_NUMBER() OVER (PARTITION BY doc_id
          |      ORDER BY cnt DESC, gram ASC) AS rd
          |  FROM dp0 QUALIFY rd <= 32),
          |langs AS (SELECT DISTINCT lang FROM lp),
          |sc AS (SELECT dp.doc_id, langs.lang,
          |    SUM(coalesce(abs(dp.rd - lp.rl), 64)) AS dist
          |  FROM dp CROSS JOIN langs
          |  LEFT JOIN lp ON lp.lang = langs.lang AND lp.gram = dp.gram
          |  GROUP BY 1, 2),
          |best AS (SELECT doc_id,
          |    min(lpad(CAST(dist AS VARCHAR), 6, '0') || lang) AS bk
          |  FROM sc GROUP BY 1),
          |pred AS (SELECT doc_id, substring(bk, 7) AS pred_lang
          |  FROM best)
          |SELECT CAST((1700000000 + doc_id * 60) // 600 * 600 * 1000
          |    AS BIGINT) AS window_start_ms,
          |  pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
          |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) +
      ("q164_lang_mix_drift" ->
        // q162's classifier + window chain, then each window joined
        // to its immediate predecessor per language: truncated integer
        // percent shift (// ≡ Spark DIV on the non-negative abs),
        // strict > thresholds, warn/critical tiers, volume floor on
        // the larger half
        """WITH norm AS (SELECT doc_id, lang,
          |    ' ' || trim(regexp_replace(lower(substr(text, 1, 4096)),
          |      '[^a-z]+', ' ', 'g'))
          |      || ' ' AS s
          |  FROM documents),
          |g AS (SELECT doc_id, lang,
          |    unnest(list_transform(range(1, greatest(length(s) - 1, 1)),
          |      i -> substring(s, CAST(i AS INT), 3))) AS gram
          |  FROM norm),
          |lp0 AS (SELECT lang, gram, COUNT(*) AS cnt FROM g
          |  WHERE doc_id % 10 < 3 GROUP BY 1, 2),
          |lp AS (SELECT lang, gram,
          |    ROW_NUMBER() OVER (PARTITION BY lang
          |      ORDER BY cnt DESC, gram ASC) AS rl
          |  FROM lp0 QUALIFY rl <= 64),
          |dp0 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g
          |  GROUP BY 1, 2),
          |dp AS (SELECT doc_id, gram,
          |    ROW_NUMBER() OVER (PARTITION BY doc_id
          |      ORDER BY cnt DESC, gram ASC) AS rd
          |  FROM dp0 QUALIFY rd <= 32),
          |langs AS (SELECT DISTINCT lang FROM lp),
          |sc AS (SELECT dp.doc_id, langs.lang,
          |    SUM(coalesce(abs(dp.rd - lp.rl), 64)) AS dist
          |  FROM dp CROSS JOIN langs
          |  LEFT JOIN lp ON lp.lang = langs.lang AND lp.gram = dp.gram
          |  GROUP BY 1, 2),
          |best AS (SELECT doc_id,
          |    min(lpad(CAST(dist AS VARCHAR), 6, '0') || lang) AS bk
          |  FROM sc GROUP BY 1),
          |pred AS (SELECT doc_id, substring(bk, 7) AS pred_lang
          |  FROM best),
          |cnts AS (SELECT CAST((1700000000 + doc_id * 60) // 600 * 600
          |    * 1000 AS BIGINT) AS window_start_ms,
          |  pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
          |  FROM pred GROUP BY 1, 2)
          |SELECT c.window_start_ms, c.pred_lang,
          |  p.n_docs AS old_n, c.n_docs AS new_n,
          |  CAST(abs(c.n_docs - p.n_docs) * 100 // p.n_docs AS BIGINT)
          |    AS pct_change,
          |  CASE WHEN abs(c.n_docs - p.n_docs) * 100 // p.n_docs > 60
          |    THEN 'critical' ELSE 'warn' END AS severity
          |FROM cnts c JOIN cnts p
          |  ON p.window_start_ms = c.window_start_ms - 600000
          | AND p.pred_lang = c.pred_lang
          |WHERE greatest(c.n_docs, p.n_docs) >= 3
          |  AND abs(c.n_docs - p.n_docs) * 100 // p.n_docs > 30
          |ORDER BY 1, 2""".stripMargin) +
      ("q165_multilingual_mixture" ->
        // q160's classifier chain + q163's stop-permille body down to
        // a per-language p25 floor, the per-doc gate against the
        // doc's OWN language floor, then q88's mixture math over the
        // survivors keyed by predicted language
        """WITH norm AS (SELECT doc_id, lang,
          |    ' ' || trim(regexp_replace(lower(substr(text, 1, 4096)),
          |      '[^a-z]+', ' ', 'g'))
          |      || ' ' AS s
          |  FROM documents),
          |g AS (SELECT doc_id, lang,
          |    unnest(list_transform(range(1, greatest(length(s) - 1, 1)),
          |      i -> substring(s, CAST(i AS INT), 3))) AS gram
          |  FROM norm),
          |lp0 AS (SELECT lang, gram, COUNT(*) AS cnt FROM g
          |  WHERE doc_id % 10 < 3 GROUP BY 1, 2),
          |lp AS (SELECT lang, gram,
          |    ROW_NUMBER() OVER (PARTITION BY lang
          |      ORDER BY cnt DESC, gram ASC) AS rl
          |  FROM lp0 QUALIFY rl <= 64),
          |dp0 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g
          |  GROUP BY 1, 2),
          |dp AS (SELECT doc_id, gram,
          |    ROW_NUMBER() OVER (PARTITION BY doc_id
          |      ORDER BY cnt DESC, gram ASC) AS rd
          |  FROM dp0 QUALIFY rd <= 32),
          |langs AS (SELECT DISTINCT lang FROM lp),
          |sc AS (SELECT dp.doc_id, langs.lang,
          |    SUM(coalesce(abs(dp.rd - lp.rl), 64)) AS dist
          |  FROM dp CROSS JOIN langs
          |  LEFT JOIN lp ON lp.lang = langs.lang AND lp.gram = dp.gram
          |  GROUP BY 1, 2),
          |best AS (SELECT doc_id,
          |    min(lpad(CAST(dist AS VARCHAR), 6, '0') || lang) AS bk
          |  FROM sc GROUP BY 1),
          |pred AS (SELECT doc_id, substring(bk, 7) AS pred_lang
          |  FROM best),
          |w AS (SELECT doc_id,
          |    list_filter(string_split(lower(text),' '), t -> t <> '') ws
          |  FROM documents),
          |c AS (SELECT doc_id, CAST(len(ws) AS BIGINT) n_tokens,
          |    CAST(len(list_filter(ws,
          |      t -> list_contains(['the','a','and','of','to','in'], t)))
          |      AS BIGINT) n_stop
          |  FROM w),
          |v AS (SELECT doc_id, p.pred_lang AS stratum,
          |    CAST(n_stop * 1000 // n_tokens AS BIGINT) AS v
          |  FROM c JOIN pred p USING (doc_id) WHERE n_tokens >= 1),
          |h AS (SELECT stratum, v, COUNT(*) f FROM v GROUP BY 1, 2),
          |cm AS (SELECT stratum, v, f,
          |    CAST(SUM(f) OVER (PARTITION BY stratum ORDER BY v)
          |      AS BIGINT) cum,
          |    CAST(SUM(f) OVER (PARTITION BY stratum) AS BIGINT) n_rows
          |  FROM h),
          |fl AS (SELECT stratum,
          |    MIN(CASE WHEN cum*100 >= n_rows*25 THEN v END) p25
          |  FROM cm GROUP BY 1),
          |surv AS (SELECT v.doc_id, v.stratum FROM v JOIN fl USING (stratum)
          |  WHERE v.v >= fl.p25),
          |agg AS (SELECT s.stratum, COUNT(*) AS n_docs,
          |    CAST(SUM(d.n_chars) AS BIGINT) AS available,
          |    CAST(floor(CAST(100000 AS DOUBLE) *
          |      CAST(CASE s.stratum WHEN 'en' THEN 0.35 WHEN 'de' THEN 0.15
          |        WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.15 WHEN 'zh' THEN 0.10
          |        ELSE 0.05 END AS DOUBLE)) AS BIGINT) AS target
          |  FROM surv s JOIN documents d USING (doc_id) GROUP BY 1)
          |SELECT stratum, n_docs, available, target,
          |  least(256, CAST(floor(
          |    CAST(target * 256 AS DOUBLE) / CAST(available AS DOUBLE))
          |    AS BIGINT)) AS bucket_threshold
          |FROM agg ORDER BY stratum""".stripMargin) +
      ("q161_lang_data_card" ->
        // q160's classifier CTE chain feeding q121's data-card body
        // with stratum = predicted language; the dedup canon is
        // computed over the CLASSIFIED docs (the joined frame), same
        // as the Spark composition
        """WITH norm AS (SELECT doc_id, lang,
          |    ' ' || trim(regexp_replace(lower(substr(text, 1, 4096)),
          |      '[^a-z]+', ' ', 'g'))
          |      || ' ' AS s
          |  FROM documents),
          |g AS (SELECT doc_id, lang,
          |    unnest(list_transform(range(1, greatest(length(s) - 1, 1)),
          |      i -> substring(s, CAST(i AS INT), 3))) AS gram
          |  FROM norm),
          |lp0 AS (SELECT lang, gram, COUNT(*) AS cnt FROM g
          |  WHERE doc_id % 10 < 3 GROUP BY 1, 2),
          |lp AS (SELECT lang, gram,
          |    ROW_NUMBER() OVER (PARTITION BY lang
          |      ORDER BY cnt DESC, gram ASC) AS rl
          |  FROM lp0 QUALIFY rl <= 64),
          |dp0 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g
          |  GROUP BY 1, 2),
          |dp AS (SELECT doc_id, gram,
          |    ROW_NUMBER() OVER (PARTITION BY doc_id
          |      ORDER BY cnt DESC, gram ASC) AS rd
          |  FROM dp0 QUALIFY rd <= 32),
          |langs AS (SELECT DISTINCT lang FROM lp),
          |sc AS (SELECT dp.doc_id, langs.lang,
          |    SUM(coalesce(abs(dp.rd - lp.rl), 64)) AS dist
          |  FROM dp CROSS JOIN langs
          |  LEFT JOIN lp ON lp.lang = langs.lang AND lp.gram = dp.gram
          |  GROUP BY 1, 2),
          |best AS (SELECT doc_id,
          |    min(lpad(CAST(dist AS VARCHAR), 6, '0') || lang) AS bk
          |  FROM sc GROUP BY 1),
          |pred AS (SELECT doc_id, substring(bk, 7) AS pred_lang
          |  FROM best),
          |w AS (SELECT d.doc_id, p.pred_lang AS stratum, d.text,
          |    CAST(length(d.text) AS BIGINT) n_chars,
          |    list_filter(string_split(lower(d.text),' '), t -> t <> '') ws
          |  FROM documents d JOIN pred p ON p.doc_id = d.doc_id),
          |c AS (SELECT doc_id, stratum, text, n_chars,
          |    CAST(len(ws) AS BIGINT) n_tokens,
          |    CAST(len(list_filter(ws,
          |      t -> list_contains(['the','a','and','of','to','in'], t)))
          |      AS BIGINT) n_stop
          |  FROM w),
          |f AS (SELECT doc_id, stratum, n_tokens,
          |    (n_tokens >= 10 AND n_stop / n_tokens >= 0.01
          |      AND n_stop / n_tokens <= 0.6
          |      AND (n_chars - (n_tokens - 1)) / n_tokens <= 12.0)
          |      AS quality_ok,
          |    (len(regexp_extract_all(text,
          |       '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))
          |     + len(regexp_extract_all(text,
          |       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
          |     + len(regexp_extract_all(text,
          |       '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b'))
          |     + len(regexp_extract_all(text,
          |       '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b'))) > 0 AS has_pii,
          |    md5(text) h
          |  FROM c),
          |canon AS (SELECT h, MIN(doc_id) can FROM f GROUP BY 1)
          |SELECT stratum, CAST(COUNT(*) AS BIGINT) n_docs,
          |  CAST(SUM(n_tokens) AS BIGINT) n_tokens_total,
          |  CAST(SUM(n_tokens) AS BIGINT) // COUNT(*) AS mean_tokens,
          |  COUNT(CASE WHEN quality_ok THEN 1 END) * 1000 // COUNT(*)
          |    AS quality_ok_permille,
          |  COUNT(CASE WHEN has_pii THEN 1 END) * 1000 // COUNT(*)
          |    AS pii_permille,
          |  COUNT(CASE WHEN doc_id <> can THEN 1 END) * 1000 // COUNT(*)
          |    AS dup_copy_permille
          |FROM f JOIN canon USING (h) GROUP BY 1 ORDER BY 1""".stripMargin) +
      ("q157_ingest_select" ->
        // the full ingest stack composed: q152's twin injection,
        // q153's HTML injection + strip chain, the 3-phrase screen,
        // the NFC-hash dedup, q64's quality thresholds, q156's PPS
        // walk at k=30 — each CTE the independently-proven mirror
        """WITH base AS (SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id + 300000,
          |    'caf' || chr(233) || ' preface: ' || text
          |  FROM documents WHERE doc_id % 13 = 0
          |  UNION ALL SELECT doc_id + 400000,
          |    'cafe' || chr(769) || ' preface: ' || text
          |  FROM documents WHERE doc_id % 13 = 0),
          |raw AS (SELECT doc_id,
          |    CASE WHEN doc_id % 7 = 0 THEN
          |      '<html><body class="x"><p id=''m''>' || text ||
          |      ' &amp; more &amp;lt;kept&amp;gt;</p><!-- footer -->' ||
          |      '<script>var x = "<p>";</script></body></html>'
          |    ELSE text END AS raw
          |  FROM base),
          |c AS (SELECT doc_id, trim(regexp_replace(
          |    regexp_replace(regexp_replace(regexp_replace(
          |    regexp_replace(regexp_replace(regexp_replace(
          |    regexp_replace(regexp_replace(regexp_replace(
          |      raw,
          |      '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
          |      '(?s)<!--.*?-->', ' ', 'g'),
          |      '<[^>]*>', ' ', 'g'),
          |      '&lt;', '<', 'g'),
          |      '&gt;', '>', 'g'),
          |      '&quot;', '"', 'g'),
          |      '&#39;', '''', 'g'),
          |      '&nbsp;', ' ', 'g'),
          |      '&amp;', '&', 'g'),
          |      '\s+', ' ', 'g')) AS text
          |  FROM raw),
          |p1 AS (SELECT doc_id, text FROM c
          |  WHERE NOT (contains(lower(text), 'slow scan')
          |    OR contains(lower(text), 'big query')
          |    OR contains(lower(text), 'merge batch'))),
          |d AS (SELECT md5(nfc_normalize(text)) h, min(doc_id) cid
          |  FROM p1 GROUP BY 1),
          |surv AS (SELECT p1.doc_id, p1.text FROM p1
          |  JOIN d ON md5(nfc_normalize(p1.text)) = d.h
          |    AND p1.doc_id = d.cid),
          |w AS (SELECT doc_id, CAST(length(text) AS BIGINT) n_chars,
          |    list_filter(string_split(lower(text),' '), t -> t <> '') ws
          |  FROM surv),
          |q AS (SELECT doc_id, n_chars,
          |    CAST(len(ws) AS BIGINT) n_tokens,
          |    CAST(len(list_filter(ws,
          |      t -> list_contains(['the','a','and','of','to','in'], t)))
          |      AS BIGINT) n_stop
          |  FROM w),
          |ok AS (SELECT doc_id, n_tokens AS wt FROM q
          |  WHERE n_tokens >= 10
          |    AND n_stop / n_tokens >= 0.01 AND n_stop / n_tokens <= 0.6
          |    AND (n_chars - (n_tokens - 1)) / n_tokens <= 12.0),
          |wp AS (SELECT * FROM ok WHERE wt > 0),
          |cm AS (SELECT doc_id, wt,
          |    COALESCE(SUM(wt) OVER (ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS cb,
          |    SUM(wt) OVER (ORDER BY doc_id) AS cum
          |  FROM wp),
          |p AS (SELECT greatest(CAST(SUM(wt) AS BIGINT) // 30, 1)
          |    AS step FROM wp),
          |p2 AS (SELECT step, (step + 1) // 2 AS off FROM p),
          |n AS (SELECT doc_id, wt, cb, cum,
          |    least(30, CASE WHEN cum < off THEN 0
          |      ELSE (cum - off) // step + 1 END)
          |    - least(30, CASE WHEN cb < off THEN 0
          |      ELSE (cb - off) // step + 1 END) AS nc
          |  FROM cm, p2)
          |SELECT doc_id, wt, CAST(cb AS BIGINT) AS cum_before,
          |  CAST(nc AS BIGINT) AS n_copies
          |FROM n WHERE nc >= 1 ORDER BY doc_id""".stripMargin) +
      ("q156_systematic_pps" ->
        // DuckDB SUM(BIGINT) widens to HUGEINT — cast the outputs
        // back; all operands non-negative so // == DIV
        """WITH w AS (SELECT doc_id, CAST(len(list_filter(
          |    string_split(lower(text),' '), t -> t <> '')) AS BIGINT) wt
          |  FROM documents),
          |wp AS (SELECT * FROM w WHERE wt > 0),
          |c AS (SELECT doc_id, wt,
          |    COALESCE(SUM(wt) OVER (ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS cb,
          |    SUM(wt) OVER (ORDER BY doc_id) AS cum
          |  FROM wp),
          |p AS (SELECT greatest(CAST(SUM(wt) AS BIGINT) // 40, 1)
          |    AS step FROM wp),
          |p2 AS (SELECT step, (step + 1) // 2 AS off FROM p),
          |n AS (SELECT doc_id, wt, cb, cum,
          |    least(40, CASE WHEN cum < off THEN 0
          |      ELSE (cum - off) // step + 1 END)
          |    - least(40, CASE WHEN cb < off THEN 0
          |      ELSE (cb - off) // step + 1 END) AS nc
          |  FROM c, p2)
          |SELECT doc_id, wt, CAST(cb AS BIGINT) AS cum_before,
          |  CAST(nc AS BIGINT) AS n_copies
          |FROM n WHERE nc >= 1 ORDER BY doc_id""".stripMargin) +
      ("q155_blocklist_stats" ->
        """WITH t(ordinal, term) AS (VALUES
          |    (0, 'slow scan'), (1, 'big query'), (2, 'dup'),
          |    (3, 'window'), (4, 'dow'), (5, 'merge batch'),
          |    (6, 'zyzzyva'))
          |SELECT CAST(t.ordinal AS BIGINT) AS ordinal, t.term,
          |  CAST(COUNT(CASE WHEN contains(lower(d.text), t.term)
          |    THEN 1 END) AS BIGINT) AS n_docs
          |FROM t CROSS JOIN documents d
          |GROUP BY 1, 2 ORDER BY 1""".stripMargin) +
      ("q154_kmv_distinct" ->
        // (k-1)*2^56 with k=24; fixed-width hex sorts numerically;
        // ('0x' || h)::BIGINT parses the 56-bit hash; all operands
        // non-negative so // == DIV; divisor floored at 1 exactly like
        // the Spark side (an all-zero hash prefix must not // 0)
        """WITH h AS (SELECT DISTINCT event_type,
          |    substr(md5(CAST(user_id AS VARCHAR)), 1, 14) AS hh
          |  FROM events WHERE user_id IS NOT NULL),
          |r AS (SELECT event_type, hh,
          |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hh) rn
          |  FROM h),
          |kk AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_kept,
          |    MAX(CASE WHEN rn = 24 THEN hh END) AS kth
          |  FROM r WHERE rn <= 24 GROUP BY 1)
          |SELECT event_type, n_kept,
          |  CASE WHEN kth IS NULL THEN n_kept
          |       ELSE CAST(1657324662872342528 //
          |         greatest(('0x' || kth)::BIGINT, 1) AS BIGINT)
          |  END AS est_distinct
          |FROM kk ORDER BY event_type""".stripMargin) +
      ("q153_html_strip" ->
        // same regex chain, Java∩RE2 dialect, with DuckDB's explicit
        // 'g' flag (its regexp_replace is first-match by default)
        """WITH raw AS (SELECT doc_id,
          |    CASE WHEN doc_id % 7 = 0 THEN
          |      '<html><body class="x"><p id=''m''>' || text ||
          |      ' &amp; more &amp;lt;kept&amp;gt;</p><!-- footer -->' ||
          |      '<script>var x = "<p>";</script></body></html>'
          |    ELSE text END AS raw
          |  FROM documents),
          |c AS (SELECT doc_id, raw, trim(regexp_replace(
          |    regexp_replace(regexp_replace(regexp_replace(
          |    regexp_replace(regexp_replace(regexp_replace(
          |    regexp_replace(regexp_replace(regexp_replace(
          |      raw,
          |      '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
          |      '(?s)<!--.*?-->', ' ', 'g'),
          |      '<[^>]*>', ' ', 'g'),
          |      '&lt;', '<', 'g'),
          |      '&gt;', '>', 'g'),
          |      '&quot;', '"', 'g'),
          |      '&#39;', '''', 'g'),
          |      '&nbsp;', ' ', 'g'),
          |      '&amp;', '&', 'g'),
          |      '\s+', ' ', 'g')) AS clean_text
          |  FROM raw)
          |SELECT doc_id, clean_text, raw <> clean_text AS was_dirty
          |FROM c ORDER BY doc_id""".stripMargin) +
      ("q152_curation_scorecard" ->
        // the q149 rank chain over the q147 twin-injected corpus + a
        // 3-phrase screen + the NFC-hash dup check, folded through one
        // precedence CASE; the quality bar is rank*2 > corpus size in
        // EVERY signal. chr(233) = composed U+00E9, chr(769) =
        // combining acute (decomposed twin)
        """WITH base AS (SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id + 300000,
          |    'caf' || chr(233) || ' preface: ' || text
          |  FROM documents WHERE doc_id % 13 = 0
          |  UNION ALL SELECT doc_id + 400000,
          |    'cafe' || chr(769) || ' preface: ' || text
          |  FROM documents WHERE doc_id % 13 = 0),
          |w AS (SELECT doc_id,
          |    list_filter(string_split(lower(text),' '), t -> t <> '') ws
          |  FROM base),
          |s AS (SELECT doc_id, CAST(len(ws) AS BIGINT) n_tokens,
          |    CAST(len(list_distinct(ws)) AS BIGINT) n_types,
          |    CAST(len(list_filter(ws,
          |      t -> list_contains(['the','a','and','of','to','in'], t)))
          |      AS BIGINT) n_stop
          |  FROM w),
          |g AS (SELECT doc_id, n_tokens,
          |    n_types * 1000 // greatest(n_tokens, 1) AS lex_permille,
          |    n_stop * 1000 // greatest(n_tokens, 1) AS stop_permille
          |  FROM s),
          |r AS (SELECT doc_id,
          |    rank() OVER (ORDER BY n_tokens DESC) AS rank_tokens,
          |    rank() OVER (ORDER BY lex_permille DESC) AS rank_lex,
          |    rank() OVER (ORDER BY stop_permille DESC) AS rank_stop
          |  FROM g),
          |f AS (SELECT doc_id, rank_tokens, rank_lex, rank_stop,
          |    1000000000 // (60 + rank_tokens) +
          |    1000000000 // (60 + rank_lex) +
          |    1000000000 // (60 + rank_stop) AS rrf_score
          |  FROM r),
          |b AS (SELECT doc_id,
          |    len(list_filter([0, 1, 2], i -> contains(lower(text),
          |      ['slow scan', 'big query', 'merge batch'][i + 1]))) > 0
          |      AS is_banned
          |  FROM base),
          |h AS (SELECT doc_id, md5(nfc_normalize(text)) AS ch
          |  FROM base),
          |fi AS (SELECT ch, MIN(doc_id) AS first_id FROM h GROUP BY 1),
          |dp AS (SELECT doc_id, doc_id > first_id AS is_dup_copy
          |  FROM h JOIN fi USING (ch)),
          |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM base)
          |SELECT f.doc_id, is_banned, is_dup_copy, rrf_score,
          |  CASE WHEN is_banned THEN 'banned'
          |       WHEN is_dup_copy THEN 'duplicate'
          |       WHEN rank_tokens * 2 > n_docs AND rank_lex * 2 > n_docs
          |         AND rank_stop * 2 > n_docs THEN 'low_quality'
          |       ELSE 'keep' END AS decision
          |FROM f JOIN b USING (doc_id) JOIN dp USING (doc_id), n
          |ORDER BY f.doc_id""".stripMargin) +
      ("q151_banned_terms" ->
        // same list, same order; hits[1] of an empty list is NULL in
        // DuckDB, matching the when-guarded first ordinal
        """WITH m AS (SELECT doc_id,
          |    list_filter([0, 1, 2, 3, 4, 5], i -> contains(lower(text),
          |      ['slow scan', 'big query', 'dup', 'window', 'dow',
          |       'merge batch'][i + 1])) AS hits
          |  FROM documents)
          |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_banned,
          |  CAST(hits[1] AS BIGINT) AS first_ordinal,
          |  len(hits) > 0 AS flagged
          |FROM m ORDER BY doc_id""".stripMargin) +
      ("q138_chunk_rewrite" -> gearSql(
        s"""d AS (SELECT doc_id, t, length(t) AS n FROM (
           |    SELECT doc_id, CASE WHEN doc_id % 7 = 0
           |      THEN text || ' $GearPassage' ELSE text END AS t
           |    FROM documents)
           |  WHERE length(t) >= 1)""".stripMargin,
        gearRewriteSelect)) +
      ("q142_corpus_rewrite" -> gearSql(
        s"""d0 AS (SELECT doc_id, text ||
           |    CASE WHEN doc_id % 4 = 0
           |      THEN chr(10) || 'subscribe to our newsletter today'
           |    WHEN doc_id % 4 = 1
           |      THEN chr(10) || 'all rights reserved worldwide'
           |    WHEN doc_id % 4 = 2 THEN chr(10) || 'ok'
           |    ELSE '' END ||
           |    CASE WHEN doc_id % 7 = 0 THEN ' $GearPassage'
           |    ELSE '' END AS t2
           |  FROM documents),
           |ls0 AS (SELECT doc_id,
           |    list_filter(string_split(t2, chr(10)), l -> l <> '') AS ls
           |  FROM d0),
           |ls AS (SELECT doc_id, unnest(ls) AS line,
           |    generate_subscripts(ls, 1) AS line_no FROM ls0),
           |freq AS (SELECT md5(line) h, COUNT(*) f FROM ls GROUP BY 1),
           |k0 AS (SELECT doc_id, line_no, line,
           |    (hot.f IS NULL OR length(line) < 5) AS keep
           |  FROM ls LEFT JOIN (SELECT h, f FROM freq WHERE f > 5) hot
           |    ON md5(line) = hot.h),
           |lagg AS (SELECT doc_id,
           |    string_agg(CASE WHEN keep THEN line END, chr(10)
           |      ORDER BY line_no) AS cleaned_text
           |  FROM k0 GROUP BY 1),
           |clean AS (SELECT d0.doc_id, COALESCE(cleaned_text, '') AS ct
           |  FROM d0 LEFT JOIN lagg USING (doc_id)),
           |d AS (SELECT doc_id, ct AS t, length(ct) AS n FROM clean
           |  WHERE length(ct) >= 1)""".stripMargin,
        gearRewriteSelect)))
  }

  /** The chunk-rewrite tail of the gear oracle (first-occurrence
    * election + keep flags + ordered reassembly + the all-docs left
    * join) — shared by q138 and the composed q142, whose only
    * difference is what the `d` doc CTE holds. */
  private val gearRewriteSelect: String =
    """, f AS (SELECT chunk_md5, doc_id f_doc, chunk_no f_no FROM (
      |    SELECT chunk_md5, doc_id, chunk_no, row_number() OVER (
      |      PARTITION BY chunk_md5 ORDER BY doc_id, chunk_no) rn
      |    FROM chunks) WHERE rn = 1),
      |k AS (SELECT c.doc_id, c.chunk_no, c."start", c.chunk_len,
      |    (c.doc_id = f.f_doc AND c.chunk_no = f.f_no) AS keep
      |  FROM chunks c JOIN f USING (chunk_md5)),
      |agg AS (SELECT k.doc_id, COUNT(*) n_chunks,
      |    CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
      |      n_kept,
      |    string_agg(CASE WHEN keep THEN
      |      substr(d.t, CAST(k."start" AS INT),
      |        CAST(k.chunk_len AS INT)) END, '' ORDER BY k.chunk_no)
      |      cleaned_text
      |  FROM k JOIN d USING (doc_id) GROUP BY 1)
      |SELECT d.doc_id, COALESCE(n_chunks, 0) AS n_chunks,
      |  COALESCE(n_kept, 0) AS n_kept,
      |  COALESCE(cleaned_text, '') AS cleaned_text
      |FROM d LEFT JOIN agg USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** q139 is q138 through the chunk patch-set path: same decisions,
    * same output contract, so the oracle is the same SQL — the hash
    * match IS the proof the two paths agree (the q91/q128 pattern). */
  private def withPathEqualityTwins(m: Map[String, String])
      : Map[String, String] =
    m + ("q139_chunk_patches" -> m("q138_chunk_rewrite")) +
      // the train-once composed build returns q165's mixture rows by
      // construction — the hash match against q165's own SQL is the
      // proof the composed path changed nothing
      ("q174_multilingual_build" -> m("q165_multilingual_mixture"))

  /** Shared DuckDB CTE chain mirroring [[operators.Dedup.gearChunks]]
    * at maskBits=6/window=32: the md5-generated gear table, the
    * per-position windowed gear sum with each term pre-masked to its
    * surviving 33-k low bits (exact mod-2^32 in bigint arithmetic),
    * boundary selection, and chunk assembly. `docCte` must define
    * d(doc_id, t, n); `select` consumes
    * chunks(doc_id, chunk_no, "start", chunk_len, chunk_md5). */
  private def gearSql(docCte: String, select: String): String =
    s"""WITH gtab AS (SELECT b,
       |    CAST(list_sum(list_transform(generate_series(1, 8), j ->
       |      (strpos('0123456789abcdef',
       |         substr(md5(CAST(b AS VARCHAR) || ':gear'), j, 1)) - 1)
       |      * CAST(power(16, 8 - j) AS BIGINT))) AS BIGINT) AS g
       |  FROM generate_series(0, 255) t(b)),
       |$docCte,
       |p AS (SELECT doc_id, t, n, unnest(generate_series(1, n)) i FROM d),
       |gv AS (SELECT doc_id, i, g FROM p
       |  JOIN gtab ON b = (ascii(substr(t, i, 1)) % 256)),
       |hc AS (SELECT a.doc_id, a.i FROM gv a JOIN gv b
       |    ON b.doc_id = a.doc_id AND b.i >= a.i - 31 AND b.i <= a.i
       |  GROUP BY a.doc_id, a.i
       |  HAVING (CAST(SUM(
       |    (b.g % CAST(power(2, 33 - (a.i - b.i + 1)) AS BIGINT))
       |    * CAST(power(2, a.i - b.i) AS BIGINT)) AS BIGINT) & 63) = 0),
       |ends AS (SELECT doc_id, i AS e FROM hc
       |  UNION SELECT doc_id, n FROM d),
       |ch AS (SELECT doc_id, e,
       |    COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1
       |      AS st,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY e) - 1 AS cn
       |  FROM ends),
       |chunks AS (SELECT c.doc_id, CAST(cn AS BIGINT) AS chunk_no,
       |    CAST(st AS BIGINT) AS "start",
       |    CAST(e - st + 1 AS BIGINT) AS chunk_len,
       |    md5(substr(d.t, st, CAST(e - st + 1 AS INT))) AS chunk_md5
       |  FROM ch c JOIN d USING (doc_id))
       |$select""".stripMargin

  /** Shared DuckDB CTE chain mirroring [[operators.TextAnalysis
    * .bpeTrainMerges]]: vocabulary collapse, then `n` unrolled rounds
    * of (pair count → argmax → boundary-safe replace). Generated
    * rather than hand-unrolled so the round template is stated once. */
  private def bpeCtes(n: Int): String = {
    val prefix =
      """wd AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> t <> '') ws
        |  FROM documents),
        |w AS (SELECT unnest(ws) word FROM wd),
        |v AS (SELECT word, COUNT(*) cnt FROM w GROUP BY 1),
        |s0 AS (SELECT word, '<' || array_to_string(
        |    list_transform(generate_series(1, length(word)),
        |      i -> word[i]), '> <') || '>' AS seq, cnt FROM v)""".stripMargin
    val rounds = (1 to n).map { k =>
      s"""p$k AS (SELECT pr, CAST(SUM(cnt) AS BIGINT) c FROM (
         |    SELECT cnt, arr[i] || ' ' || arr[i+1] pr FROM (
         |      SELECT string_split(seq, ' ') arr, cnt,
         |        unnest(generate_series(1, len(string_split(seq, ' ')) - 1)) i
         |      FROM s${k - 1})) GROUP BY 1),
         |b$k AS (SELECT pr, c FROM p$k ORDER BY c DESC, pr LIMIT 1),
         |s$k AS (SELECT word, replace(seq, (SELECT pr FROM b$k),
         |    replace((SELECT pr FROM b$k), '> <', '')) seq, cnt
         |  FROM s${k - 1})""".stripMargin
    }.mkString(",\n")
    s"$prefix,\n$rounds"
  }

  /** k-center oracle: replay the operator's greedy rounds as generated
    * CTEs — per round, exact integer squared-L2 from every unchosen
    * point to the chosen set (dim-join dot products), MIN over chosen,
    * argmax with the lowest-id tie-break (ORDER BY dmin DESC, vec_id
    * LIMIT 1), chosen set accumulated by UNION ALL. */
  private def kCenterSql(m: Int): String = {
    val rounds = (2 to m).map { r =>
      s"""dm$r AS (
         |  SELECT pc.vec_id, MIN(np.nrm + nc.nrm - 2*pc.dot) AS dmin
         |  FROM (SELECT pe.vec_id, ce.vec_id cid,
         |      CAST(SUM(pe.v*ce.v) AS BIGINT) dot
         |    FROM ed pe JOIN ed ce ON pe.d = ce.d
         |    JOIN cs${r - 1} c ON ce.vec_id = c.vec_id
         |    WHERE pe.vec_id NOT IN (SELECT vec_id FROM cs${r - 1})
         |    GROUP BY 1, 2) pc
         |  JOIN nrm np ON np.vec_id = pc.vec_id
         |  JOIN nrm nc ON nc.vec_id = pc.cid
         |  GROUP BY 1),
         |ch$r AS (SELECT vec_id, dmin FROM dm$r
         |  ORDER BY dmin DESC, vec_id LIMIT 1),
         |cs$r AS (SELECT vec_id FROM cs${r - 1}
         |  UNION ALL SELECT vec_id FROM ch$r)""".stripMargin
    }.mkString(",\n")
    val out = (2 to m).map { r =>
      s"UNION ALL SELECT CAST($r AS BIGINT), vec_id, dmin FROM ch$r"
    }.mkString("\n")
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x ->
       |      CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) qv
       |  FROM embeddings),
       |ed AS (SELECT vec_id, generate_subscripts(qv, 1) d, unnest(qv) v
       |  FROM e),
       |nrm AS (SELECT vec_id, CAST(SUM(v*v) AS BIGINT) nrm
       |  FROM ed GROUP BY 1),
       |ch1 AS (SELECT MIN(vec_id) AS vec_id FROM e),
       |cs1 AS (SELECT vec_id FROM ch1),
       |$rounds
       |SELECT CAST(1 AS BIGINT) AS sel_round, vec_id,
       |  CAST(0 AS BIGINT) AS min_dist2 FROM ch1
       |$out
       |ORDER BY sel_round""".stripMargin
  }

  private def bpeMergesSql(n: Int): String = {
    val ms = (1 to n).map { k =>
      s"""SELECT CAST($k AS BIGINT) round,
         |  (string_split(pr, ' ')[1])[2:length(string_split(pr, ' ')[1]) - 1]
         |    AS pair_a,
         |  (string_split(pr, ' ')[2])[2:length(string_split(pr, ' ')[2]) - 1]
         |    AS pair_b,
         |  c AS cnt FROM b$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${bpeCtes(n)}
       |SELECT round, pair_a, pair_b, pair_a || pair_b AS merged, cnt
       |FROM ($ms) ORDER BY round""".stripMargin
  }

  /** Batched-BPE oracle: per round, rank pair counts, window the top
    * `batchSize`, accept candidates symbol-disjoint from every
    * higher-ranked candidate (NOT EXISTS self-join — the same
    * non-recursive rule as the operator), and fold the whole accepted
    * batch through the vocabulary with list_reduce. */
  private def bpeBatchedSql(batchSize: Int, rounds: Int): String = {
    val prefix =
      """wd AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> t <> '') ws
        |  FROM documents),
        |w AS (SELECT unnest(ws) word FROM wd),
        |v AS (SELECT word, COUNT(*) cnt FROM w GROUP BY 1),
        |s0 AS (SELECT word, '<' || array_to_string(
        |    list_transform(generate_series(1, length(word)),
        |      i -> word[i]), '> <') || '>' AS seq, cnt FROM v)""".stripMargin
    val rcte = (1 to rounds).map { k =>
      s"""p$k AS (SELECT pr, CAST(SUM(cnt) AS BIGINT) c FROM (
         |    SELECT cnt, arr[i] || ' ' || arr[i+1] pr FROM (
         |      SELECT string_split(seq, ' ') arr, cnt,
         |        unnest(generate_series(1, len(string_split(seq, ' ')) - 1)) i
         |      FROM s${k - 1})) GROUP BY 1),
         |r$k AS (SELECT pr, c, row_number() OVER (ORDER BY c DESC, pr) rk
         |  FROM p$k QUALIFY rk <= $batchSize),
         |cf$k AS (SELECT DISTINCT x.pr FROM r$k x JOIN r$k y
         |    ON y.rk < x.rk AND list_has_any(
         |      string_split(y.pr, ' '), string_split(x.pr, ' '))),
         |a$k AS (SELECT pr, c, rk FROM r$k
         |  WHERE pr NOT IN (SELECT pr FROM cf$k)),
         |l$k AS (SELECT COALESCE(list(pr ORDER BY rk), []) lst FROM a$k),
         |s$k AS (SELECT word, list_reduce(
         |    list_prepend(seq, (SELECT lst FROM l$k)),
         |    (acc, x) -> replace(acc, x, replace(x, '> <', ''))) seq, cnt
         |  FROM s${k - 1})""".stripMargin
    }.mkString(",\n")
    val unions = (1 to rounds).map(k =>
      s"SELECT CAST($k AS BIGINT) batch_no, pr, c, rk FROM a$k")
      .mkString("\nUNION ALL\n")
    s"""WITH $prefix,
       |$rcte,
       |m AS ($unions)
       |SELECT CAST(row_number() OVER (ORDER BY batch_no, rk) AS BIGINT)
       |    AS merge_no,
       |  batch_no,
       |  (string_split(pr, ' ')[1])[2:length(string_split(pr, ' ')[1]) - 1]
       |    AS pair_a,
       |  (string_split(pr, ' ')[2])[2:length(string_split(pr, ' ')[2]) - 1]
       |    AS pair_b,
       |  (string_split(pr, ' ')[1])[2:length(string_split(pr, ' ')[1]) - 1]
       |  || (string_split(pr, ' ')[2])[2:length(string_split(pr, ' ')[2]) - 1]
       |    AS merged,
       |  c AS cnt
       |FROM m ORDER BY merge_no""".stripMargin
  }

  private def bpeEncodeSql(n: Int): String =
    s"""WITH ${bpeCtes(n)},
       |wn AS (SELECT word,
       |    CAST(len(string_split(seq, ' ')) AS BIGINT) n_sym FROM s$n),
       |dw AS (SELECT doc_id, unnest(ws) word FROM wd),
       |docc AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) n_occ
       |  FROM dw GROUP BY 1, 2)
       |SELECT doc_id, CAST(SUM(n_occ) AS BIGINT) AS n_words,
       |  CAST(SUM(n_occ * n_sym) AS BIGINT) AS n_bpe_tokens
       |FROM docc JOIN wn USING (word) GROUP BY 1 ORDER BY 1""".stripMargin

  /** The q160 classifier chain as a reusable CTE prefix (norm → pred:
    * normalization, trigram explode, rank profiles, out-of-place
    * distance, argmin) — the exact SQL the q160/q161/q163/q164/q165
    * oracles inline; factored for composers added after them so the
    * mirror exists in ONE place going forward. */
  private val langPredCtes: String =
    // NOTE: composers interpolate this into their own stripMargin
    // string, so no line here may BEGIN with '|' after this strip
    // (the outer strip would eat it as a margin char)
    """norm AS (SELECT doc_id, lang,
      |    ' ' || trim(regexp_replace(lower(substr(text, 1, 4096)),
      |      '[^a-z]+', ' ', 'g')) || ' ' AS s
      |  FROM documents),
      |g AS (SELECT doc_id, lang,
      |    unnest(list_transform(range(1, greatest(length(s) - 1, 1)),
      |      i -> substring(s, CAST(i AS INT), 3))) AS gram
      |  FROM norm),
      |lp0 AS (SELECT lang, gram, COUNT(*) AS cnt FROM g
      |  WHERE doc_id % 10 < 3 GROUP BY 1, 2),
      |lp AS (SELECT lang, gram,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY cnt DESC, gram ASC) AS rl
      |  FROM lp0 QUALIFY rl <= 64),
      |dp0 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g
      |  GROUP BY 1, 2),
      |dp AS (SELECT doc_id, gram,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY cnt DESC, gram ASC) AS rd
      |  FROM dp0 QUALIFY rd <= 32),
      |langs AS (SELECT DISTINCT lang FROM lp),
      |sc AS (SELECT dp.doc_id, langs.lang,
      |    SUM(coalesce(abs(dp.rd - lp.rl), 64)) AS dist
      |  FROM dp CROSS JOIN langs
      |  LEFT JOIN lp ON lp.lang = langs.lang AND lp.gram = dp.gram
      |  GROUP BY 1, 2),
      |best AS (SELECT doc_id,
      |    min(lpad(CAST(dist AS VARCHAR), 6, '0') || lang) AS bk
      |  FROM sc GROUP BY 1),
      |pred AS (SELECT doc_id, substring(bk, 7) AS pred_lang
      |  FROM best)""".stripMargin

  /** q167: [[bpeEncodeSql]]'s per-doc costs rolled up per PREDICTED
    * language (the [[langPredCtes]] classifier as the stratum). */
  private def langFertilitySql(n: Int): String =
    s"""WITH $langPredCtes,
       |${bpeCtes(n)},
       |wn AS (SELECT word,
       |    CAST(len(string_split(seq, ' ')) AS BIGINT) n_sym FROM s$n),
       |dw AS (SELECT doc_id, unnest(ws) word FROM wd),
       |docc AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) n_occ
       |  FROM dw GROUP BY 1, 2),
       |ds AS (SELECT doc_id, CAST(SUM(n_occ) AS BIGINT) AS n_words,
       |    CAST(SUM(n_occ * n_sym) AS BIGINT) AS n_bpe
       |  FROM docc JOIN wn USING (word) GROUP BY 1)
       |SELECT p.pred_lang AS stratum,
       |  CAST(SUM(n_words) AS BIGINT) n_words,
       |  CAST(SUM(n_bpe) AS BIGINT) n_bpe_tokens,
       |  CAST(SUM(n_bpe) * 1000 // SUM(n_words) AS BIGINT)
       |    AS fertility_permille
       |FROM ds JOIN pred p USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q166: the key-skew card mirror — per-key counts, deterministic
    * top-10 (count desc, key asc), integer-histogram quantiles, all
    * shares in ppm integer math ([[graft.operators.Skew.keySkewCard]]). */
  private val keySkewCardSql: String =
    """WITH c AS (SELECT user_id AS k, COUNT(*) AS n FROM events
      |  GROUP BY 1),
      |t AS (SELECT CAST(SUM(n) AS BIGINT) n_rows,
      |    CAST(COUNT(*) AS BIGINT) n_keys FROM c),
      |tk AS (SELECT n, k,
      |    row_number() OVER (ORDER BY n DESC, k ASC) rn
      |  FROM c QUALIFY rn <= 10),
      |hot AS (SELECT
      |    CAST(MAX(CASE WHEN rn = 1 THEN n END) AS BIGINT) max_count,
      |    CAST(MAX(CASE WHEN rn = 1 THEN k END) AS BIGINT) hot_key,
      |    CAST(SUM(n) AS BIGINT) top_n
      |  FROM tk),
      |h AS (SELECT n AS v, COUNT(*) f FROM c GROUP BY 1),
      |cm AS (SELECT v, f,
      |    CAST(SUM(f) OVER (ORDER BY v) AS BIGINT) cum,
      |    CAST(SUM(f) OVER () AS BIGINT) nk,
      |    CAST(SUM(f * v) OVER () AS BIGINT) sum_v
      |  FROM h),
      |q AS (SELECT CAST(MAX(sum_v) // MAX(nk) AS BIGINT) mean_count,
      |    CAST(MIN(CASE WHEN cum * 100 >= nk * 50 THEN v END)
      |      AS BIGINT) p50_count,
      |    CAST(MIN(CASE WHEN cum * 100 >= nk * 99 THEN v END)
      |      AS BIGINT) p99_count
      |  FROM cm)
      |SELECT t.n_rows, t.n_keys, hot.max_count, hot.hot_key,
      |  q.mean_count, q.p50_count, q.p99_count,
      |  CAST(hot.max_count * 1000000 // t.n_rows AS BIGINT)
      |    AS hot_share_ppm,
      |  CAST(hot.max_count * 1000 // (t.n_rows // t.n_keys)
      |    AS BIGINT) AS hot_fold_x1000,
      |  CAST(hot.top_n * 1000000 // t.n_rows AS BIGINT)
      |    AS top10_share_ppm
      |FROM t, hot, q""".stripMargin

  /** q168: [[keySkewCardSql]] per day window (PARTITION BY w on every
    * histogram/rank window; day truncation ≡ Spark's integer
    * epoch-day math). */
  private val keySkewWindowsSql: String =
    """WITH e AS (SELECT epoch_ms(date_trunc('day', ts)) AS w,
      |    user_id AS k FROM events),
      |c AS (SELECT w, k, COUNT(*) AS n FROM e GROUP BY 1, 2),
      |t AS (SELECT w, CAST(SUM(n) AS BIGINT) n_rows,
      |    CAST(COUNT(*) AS BIGINT) n_keys FROM c GROUP BY 1),
      |tk AS (SELECT w, n, k,
      |    row_number() OVER (PARTITION BY w ORDER BY n DESC, k ASC) rn
      |  FROM c QUALIFY rn <= 10),
      |hot AS (SELECT w,
      |    CAST(MAX(CASE WHEN rn = 1 THEN n END) AS BIGINT) max_count,
      |    CAST(MAX(CASE WHEN rn = 1 THEN k END) AS BIGINT) hot_key,
      |    CAST(SUM(n) AS BIGINT) top_n
      |  FROM tk GROUP BY 1),
      |h AS (SELECT w, n AS v, COUNT(*) f FROM c GROUP BY 1, 2),
      |cm AS (SELECT w, v, f,
      |    CAST(SUM(f) OVER (PARTITION BY w ORDER BY v) AS BIGINT) cum,
      |    CAST(SUM(f) OVER (PARTITION BY w) AS BIGINT) nk,
      |    CAST(SUM(f * v) OVER (PARTITION BY w) AS BIGINT) sum_v
      |  FROM h),
      |q AS (SELECT w,
      |    CAST(MAX(sum_v) // MAX(nk) AS BIGINT) mean_count,
      |    CAST(MIN(CASE WHEN cum * 100 >= nk * 50 THEN v END)
      |      AS BIGINT) p50_count,
      |    CAST(MIN(CASE WHEN cum * 100 >= nk * 99 THEN v END)
      |      AS BIGINT) p99_count
      |  FROM cm GROUP BY 1)
      |SELECT t.w AS window_start_ms, t.n_rows, t.n_keys,
      |  hot.max_count, hot.hot_key,
      |  q.mean_count, q.p50_count, q.p99_count,
      |  CAST(hot.max_count * 1000000 // t.n_rows AS BIGINT)
      |    AS hot_share_ppm,
      |  CAST(hot.max_count * 1000 // (t.n_rows // t.n_keys)
      |    AS BIGINT) AS hot_fold_x1000,
      |  CAST(hot.top_n * 1000000 // t.n_rows AS BIGINT)
      |    AS top10_share_ppm
      |FROM t JOIN hot ON hot.w = t.w JOIN q ON q.w = t.w
      |ORDER BY 1""".stripMargin

  /** q136: [[bpeEncodeSql]]'s per-doc costs rolled up to per-source
    * fertility permille. */
  private def bpeFertilitySql(n: Int): String =
    s"""WITH ${bpeCtes(n)},
       |wn AS (SELECT word,
       |    CAST(len(string_split(seq, ' ')) AS BIGINT) n_sym FROM s$n),
       |dw AS (SELECT doc_id, unnest(ws) word FROM wd),
       |docc AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) n_occ
       |  FROM dw GROUP BY 1, 2),
       |ds AS (SELECT doc_id, CAST(SUM(n_occ) AS BIGINT) AS n_words,
       |    CAST(SUM(n_occ * n_sym) AS BIGINT) AS n_bpe
       |  FROM docc JOIN wn USING (word) GROUP BY 1)
       |SELECT d.source AS stratum, CAST(SUM(n_words) AS BIGINT) n_words,
       |  CAST(SUM(n_bpe) AS BIGINT) n_bpe_tokens,
       |  CAST(SUM(n_bpe) * 1000 // SUM(n_words) AS BIGINT)
       |    AS fertility_permille
       |FROM ds JOIN documents d USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin
}
