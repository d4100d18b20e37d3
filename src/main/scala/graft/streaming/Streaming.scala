package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders,
  Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, ListState,
  OutputMode, StatefulProcessor, StatefulProcessorWithInitialState,
  TTLConfig, TimeMode, TimerValues, ValueState}
import graft.operators.{Heuristics, HttpHeuristics, Sampling}

/** Structured-Streaming forms of the engine's core operators
  * (SURVEY.md §2.4, §2.6). The batch forms (graft.operators) and these
  * share semantics; streaming adds watermarks, incremental state and
  * output modes:
  *
  *  - fixed windows + watermark ↔ ref fixed windows w/ lateness 0
  *    (s/httprequest/HTTPRequest.java:82-89, :162): the windowed
  *    detectors have no streaming copy here — their batch builders
  *    (`Heuristics.windowedAgg` and its callers) run unchanged on a
  *    watermarked frame, and their finalized-window gates run in the
  *    pipelines' [[finalized]] epilogues. The sketch and windowed
  *    monitor streams are `windowedAgg` over the batch operator's own
  *    aggregate column and finish, no aggregation code of their own
  *  - session_window ↔ ref 45-min-gap sessions (:151-163); the
  *    reference's accumulating early-fired panes map to update mode +
  *    downstream suppression (SURVEY.md §2.4 design note); the
  *    per-endpoint stream runs its batch twin's code under it
  *  - transformWithState ([[keyedScan]]: one [[ScanProcessor]] host,
  *    one scan kernel per detector) ↔ ref keyed ValueState +
  *    processing-time Timer (s/alert/AlertSuppressor.java:53-143)
  *
  * Scale notes: all aggregations below are incremental — state is
  * partitioned by (window, key) / session / key across executors, and
  * watermarks bound state growth. The suppressor's state is one long
  * per key, with a processing-time TTL exactly like the reference's
  * expiry timer.
  */
object Streaming {

  /** Gap-based session summary, streaming form (native session_window
    * keyed state). Append mode emits a session only once its gap has
    * passed the watermark — the "final pane" semantics. */
  def sessionSummary(df: DataFrame, tsName: String, key: Column,
      gap: String, watermarkDelay: String): DataFrame =
    df.withWatermark(tsName, watermarkDelay)
      .groupBy(session_window(col(tsName), gap), key.as("key"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_millis(col("session_window.start")).as("session_start_ms"),
        unix_millis(col("session_window.end")).as("session_end_ms"),
        col("key"), col("n_events"))

  /** Per-endpoint error rate over native session windows — the
    * streaming twin of
    * [[graft.operators.HttpHeuristics.perEndpointErrorRateSessions]]
    * (ref PerEndpointErrorRateAnalysis fed by
    * KeyAndWindowForSessionsFireEarly). Input must already be
    * filtered to client errors. The batch form's keying
    * pre-projection, rule aggregate and rule pick run on a
    * watermarked frame grouped by `session_window` per address, so
    * the two forms agree by construction. Append mode emits a session
    * once the watermark passes its gap — the reference's final-pane
    * semantics; `window_max_ts_ms` (session end − 1 ms) matches the
    * batch form's last-event + gap − 1 ms. */
  def perEndpointErrorRateStream(df: DataFrame, tsName: String,
      addr: Column, method: Column, path: Column, gap: String,
      watermarkDelay: String,
      rules: Seq[HttpHeuristics.ErrorRule]): DataFrame = {
    val aggs = HttpHeuristics.errorRuleAggs(col("__ts"), col("__m"),
      col("__p"), rules)
    val grouped = HttpHeuristics.keyedRequests(df, col(tsName), addr,
        method, path)
      .withWatermark("__ts", watermarkDelay)
      .groupBy(session_window(col("__ts"), gap), col("addr"))
      .agg(aggs.head, aggs.tail: _*)
    HttpHeuristics.pickRule(grouped, rules, "rule_method", "rule_path",
        "n_errors", Some("latest_error_ms"))
      .select(
        unix_millis(col("session_window.start")).as("session_start_ms"),
        col("addr"), col("rule_method"), col("rule_path"),
        col("n_errors"), col("latest_error_ms"),
        (unix_millis(col("session_window.end")) - 1)
          .as("window_max_ts_ms"))
  }

  /** Streaming exact dedup: first occurrence of each content hash
    * passes, replays are dropped; watermark bounds the dedup state to
    * the lateness horizon (the unbounded-corpus twin of the batch
    * exactDedup hash-groupBy). */
  def dedupStream(df: DataFrame, tsName: String, content: Column,
      watermarkDelay: String): DataFrame =
    df.withColumn("content_hash", md5(content))
      .withWatermark(tsName, watermarkDelay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Windowed per-key distinct-cardinality monitor on the KMV sketch —
    * the streaming form of [[graft.operators.Heuristics.kmvDistinct]]
    * for HIGH-cardinality regimes. The streaming gates (customs and
    * the HTTP NAT check) need only a decision at a threshold, so they
    * count with [[graft.operators.Heuristics.cappedDistinct]]: exact
    * below a cap, saturating at it. THIS is for when the number itself
    * is wanted at any cardinality, with bounded state, and must be
    * engine-portable: per (window, key) the state is ≤ k 14-hex hashes
    * (vs HLL's opaque engine-specific registers), merged incrementally across
    * micro-batches by the same order-insensitive
    * [[graft.functions.KMinValuesAggregator]] the batch form uses —
    * so a finalized window's sketch (and estimate) is BIT-IDENTICAL
    * to the batch kmvDistinct over the same events, regardless of how
    * the stream was micro-batched (StreamingSpec pins the
    * equivalence). Append mode: rows emit once the watermark passes
    * the window end.
    *
    * Output: (window_start_ms, key, n_kept, est_distinct) — the batch
    * twin's schema plus the window column. */
  def kmvCardinalityStream(df: DataFrame, tsName: String, key: Column,
      value: Column, windowDuration: String, watermarkDelay: String,
      k: Int = 32): DataFrame =
    Heuristics.windowedAgg(
        Heuristics.kmvMembers(df, value, col(tsName), key.as("key"))
          .withWatermark(tsName, watermarkDelay),
        col(tsName), windowDuration, Seq(col("key")))(Heuristics.kmvSketch(k))
      .select(Seq(col("window_start_ms"), col("key")) ++
        Heuristics.kmvCounts(k): _*)

  /** Streaming eval-set maintenance — the windowed form of
    * [[graft.operators.Sampling.hashReservoir]]: a STANDING exact-k
    * per-(window, stratum) uniform draw over a continuously-ingested
    * corpus (the k smallest md5(id) win, a pure function of the
    * window's id set). Same machinery as [[kmvCardinalityStream]]
    * with the (hash, id) buffer encoding
    * ([[graft.operators.Sampling.reservoirKey]] — which also carries
    * the id contract: null/negative/non-castable ids raise): state
    * per (window, stratum) is ≤ k 31-char entries regardless of how
    * many documents arrive, merged incrementally across micro-batches
    * by the order-insensitive bounded aggregator, so a finalized
    * window's draw is BIT-IDENTICAL to the batch hashReservoir over
    * the same rows no matter how the stream was micro-batched or how
    * many times an id was replayed (StreamingSpec pins both). Append
    * mode: each window's sample emits once the watermark passes its
    * end — exactly when an eval-set snapshot should become visible.
    *
    * Id-contract failure mode — choose it deliberately: with the
    * default strict contract, ONE invalid id (null / negative /
    * non-castable) is a POISON PILL — `reservoirKey` raises, the
    * micro-batch fails, and a restart replays the same offsets and
    * fails again, an unbounded outage from a single bad record in a
    * continuously-ingested corpus (batch jobs want exactly this
    * loudness; a standing monitor usually does not). `lenient = true`
    * trades the hard stop for loud-but-recoverable: invalid ids are
    * DROPPED before the aggregate and surface per micro-batch as the
    * observed metric `reservoir_id_violations` (Dataset.observe →
    * QueryProgressEvent.observedMetrics) for the operator to alarm
    * on — note a dropped id means that window's draw is over the
    * VALID ids only, no longer bit-identical to a batch run that
    * would have raised.
    *
    * Output: (window_start_ms, stratum, rank, id), rank 1..k in hash
    * order. */
  def hashReservoirStream(df: DataFrame, tsName: String,
      stratum: Column, id: Column, windowDuration: String,
      watermarkDelay: String, k: Int,
      lenient: Boolean = false): DataFrame = {
    val keyed = df.select(col(tsName), stratum.as("stratum"),
      (if (lenient) Sampling.reservoirKeyLenient(id)
       else Sampling.reservoirKey(id)).as("hk"))
    val checked =
      if (!lenient) keyed
      else keyed
        .observe("reservoir_contract",
          count(when(col("hk").isNull, 1)).as("reservoir_id_violations"))
        .filter(col("hk").isNotNull)
    Sampling.reservoirRanks(
      Heuristics.windowedAgg(checked.withWatermark(tsName, watermarkDelay),
        col(tsName), windowDuration, Seq(col("stratum")))(
        Sampling.reservoirSketch(k)),
      "window_start_ms", "stratum")
  }

  /** The one host of every `foreachBatch` epilogue: `frame` in append
    * mode, each micro-batch handed to `epilogue` as an eager local
    * checkpoint. Inside `foreachBatch` a stateful frame is lazy: every
    * action on it re-runs its stateful plan, reloading and re-committing
    * the state store, and an epilogue that never acts on it commits
    * nothing, which Spark 4.1 rejects
    * (`STATE_STORE_COMMIT_VALIDATION_FAILED`). The checkpoint runs each
    * batch's plan exactly once per batch id, the condition of Structured
    * Streaming's exactly-once state, whatever the epilogue does; its
    * actions read the checkpointed rows, which a write back to a path
    * the frame reads leaves unchanged. The context cleaner frees the
    * blocks once the frame is unreachable. */
  def finalized(frame: DataFrame)(epilogue: DataFrame => Unit)
      : DataStreamWriter[Row] =
    frame.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        epilogue(batch.toDF().localCheckpoint())
      }

  /** Streaming language-mix monitor — the ingestion-drift view a
    * multilingual corpus build watches (is the crawl's language mix
    * moving?): classify each arriving document with the PRE-TRAINED
    * [[graft.operators.TextAnalysis.langIdModel]] and count docs per
    * (window, predicted language) under the watermark. Classification
    * is per-ROW (a streaming document is one row, so the batch form's
    * per-doc gram aggregate is the wrong shape here — the
    * [[graft.operators.TextAnalysis.langIdKernel]] runs as a plain
    * Scala function, the parser precedent), which keeps the only
    * stateful operator the windowed count: bounded state
    * (|windows in horizon| · |langs| rows), append-mode emission on
    * finalize. Kernel ≡ declarative-langId equivalence is pinned by
    * spec, so a finalized window's counts equal the batch twin
    * (q162's shape) over the same documents.
    *
    * Output: (window_start_ms, pred_lang, n_docs). */
  def langIdStream(df: DataFrame, tsName: String, text: Column,
      model: Map[String, Map[String, Long]], penalty: Int, d: Int,
      windowDuration: String, watermarkDelay: String,
      maxChars: Int = 4096): DataFrame = {
    require(model.nonEmpty, "model must carry at least one language")
    val classify = udf((t: String) =>
      graft.operators.TextAnalysis.langIdKernel(model, penalty, d,
        maxChars)(t).map(_._1))
    Heuristics.windowedAgg(
        df.select(col(tsName), classify(text).as("pred_lang"))
          .filter(col("pred_lang").isNotNull) // gramless docs: unclassifiable
          .withWatermark(tsName, watermarkDelay),
        col(tsName), windowDuration, Seq(col("pred_lang")))(
      count(lit(1)).as("n_docs"))
  }

  /** Streaming language-mix DRIFT alert — [[langIdStream]]'s windowed
    * counts compared window-over-window (the monitor on top of the
    * monitor: q164's composition as a standing query). Drift needs
    * each window's PREDECESSOR, which finalized in an EARLIER
    * micro-batch, so the compare runs as a [[finalized]] epilogue over
    * finalized windows (the enumerationAlertStream pattern) with a
    * driver-side carry of the trailing window's counts — bounded by
    * ≤ 2·|langs| entries after pruning, the documented
    * bounded-summary class (finalized windowed aggregates, a handful
    * per batch). The compare itself IS
    * [[graft.operators.TextAnalysis.langMixDrift]] run on a local
    * (carry ∪ batch) frame — ONE implementation, so streaming alerts
    * cannot drift from the batch twin (StreamingSpec pins parity).
    * Each window alerts exactly once: in the batch that finalizes it
    * (append mode finalizes a window once; its predecessor finalized
    * no later, so it is always present in carry-or-batch — a missing
    * predecessor is a genuinely empty window, the reference's
    * empty-half skip).
    *
    * `onAlerts` receives each batch's alert rows (possibly empty):
    * (window_start_ms, pred_lang, old_n, new_n, pct_change,
    * severity). */
  def langMixDriftStream(df: DataFrame, tsName: String, text: Column,
      model: Map[String, Map[String, Long]], penalty: Int, d: Int,
      windowMs: Long, watermarkDelay: String, warnPct: Int,
      critPct: Int, minCount: Long, maxChars: Int = 4096)
      (onAlerts: DataFrame => Unit): DataStreamWriter[Row] = {
    require(windowMs > 0, "windowMs must be positive")
    val counts = langIdStream(df, tsName, text, model, penalty, d,
      s"$windowMs milliseconds", watermarkDelay, maxChars)
    val carry = scala.collection.mutable.Map[(Long, String), Long]()
    finalized(counts) { batch =>
      val rows = batch.collect()
      if (rows.nonEmpty) {
        rows.foreach { r =>
          carry((r.getLong(0), r.getString(1))) = r.getLong(2)
        }
        // only THIS batch's newly-finalized windows can alert;
        // their predecessors are in the carry (or this batch)
        val wsSet = rows.map(_.getLong(0)).toSet
        val local = batch.sparkSession.createDataFrame(
          java.util.Arrays.asList(carry.collect {
            case ((ws, l), n) if wsSet(ws) || wsSet(ws + windowMs) =>
              Row(ws, l, n)
          }.toSeq: _*), batch.schema)
        onAlerts(graft.operators.TextAnalysis.langMixDrift(
            local, windowMs, warnPct, critPct, minCount)
          .filter(col("window_start_ms").isin(wsSet.toSeq: _*)))
        // prune: windows finalize in watermark order, so any entry
        // older than the newest finalized window can only ever be
        // the predecessor of an ALREADY-finalized one
        val maxWs = carry.keys.map(_._1).max
        carry.filterInPlace { case ((ws, _), _) => ws >= maxWs }
      }
    }
  }

  /** Streaming quality-mix monitor — the SHIPPED LLR classifier
    * ([[graft.operators.TextAnalysis.llrTrain]] /
    * `loadLlrModel`) applied to an unbounded document stream: per
    * window, how many incoming docs the frozen model predicts
    * high- vs low-quality (the "is the crawl's quality collapsing"
    * standing monitor, the drift-stream's sibling on the quality
    * axis).
    *
    * Shape: the model joins as a STREAM-STATIC join on the token key
    * — the langIdStream collect-a-Map approach would NOT scale here
    * (the classifier is VOCABULARY-sized where the lang model is
    * |langs|·m-bounded), so the declarative join is load-bearing,
    * not a style choice. The class totals DO collect eagerly (2
    * scalars, self-contained in the model — llrTrain's contract).
    * Per-doc score aggregation is the first stateful operator
    * (windowed, doc-keyed — watermark-evicted), the quality-mix
    * count the second, grouped on the SAME time window — the
    * chained-windowed-aggregation pattern Spark supports in Append
    * mode. Token scoring is [[graft.operators.TextAnalysis]]'s exact
    * integer LLR, so finalized windows are bit-identical to the
    * batch twin (`llrScoreWith` + a window rollup — spec-pinned).
    *
    * Output: (window_start_ms, pred_quality, n_docs). */
  def qualityMixStream(df: DataFrame, tsName: String, id: Column,
      text: Column, model: DataFrame, windowDuration: String,
      watermarkDelay: String): DataFrame = {
    val totalRow = model
      .agg(sum(col("c_pos")).as("t_pos"), sum(col("c_neg")).as("t_neg"))
      .collect()(0)
    val (tPos, tNeg) = (totalRow.getLong(0), totalRow.getLong(1))
    require(tPos > 0 && tNeg > 0,
      "model must carry positive mass in both classes")
    df.withWatermark(tsName, watermarkDelay)
      .select(col(tsName).as("__ts"), id.as("doc_id"),
        explode(graft.operators.Dedup.tokens(text)).as("tok"))
      .join(model.select(col("tok"), col("c_pos"), col("c_neg")),
        Seq("tok"), "left")
      .select(col("__ts"), col("doc_id"),
        graft.operators.TextAnalysis.llrTokenScore(col("c_pos"),
          col("c_neg"), lit(tPos), lit(tNeg)).as("s"))
      .groupBy(window(col("__ts"), windowDuration), col("doc_id"))
      .agg(sum(col("s")).as("score"))
      .select(col("window"), (col("score") > 0).as("pred_quality"))
      .groupBy(col("window"), col("pred_quality"))
      .agg(count(lit(1)).as("n_docs"))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        col("pred_quality"), col("n_docs"))
  }

  /** Streaming key-skew monitor — the in-flight form of
    * [[graft.operators.Skew.keySkewCardBy]]: per-window per-key
    * counts under a watermark (Append mode — a window's counts
    * finalize exactly once, together), with a [[finalized]] epilogue
    * folding each finalized window's counts into its skew card and
    * handing the card rows to `onCards`. The NAT-flood alarm is the
    * card itself: `hot_fold_x1000` crossing a provisioning threshold
    * says one key is concentrating the stream WHILE it happens, not
    * at the post-mortem. State is the ordinary (window × key)
    * aggregation state every windowed keyed query carries, bounded by
    * the watermark horizon; the card math adds none (it runs on the
    * already-finalized batch, a bounded |windows × keys|-row frame).
    * Finalized cards are bit-identical to the batch twin on the same
    * lines (q168_key_skew_windows; StreamingSpec pins the parity)
    * because finalized counts are exact and the card is a
    * deterministic function of them.
    *
    * Key contract: the RAW key is grouped (never pre-cast here — a
    * `cast("long")` before the groupBy would, under non-ANSI
    * semantics, silently null every non-castable key BEFORE the
    * card's checked cast could fire, merging the whole stream onto
    * the card's null sentinel and fabricating one giant hot key),
    * so the epilogue's [[graft.operators.Skew.keySkewCardOfCounts]]
    * applies the same loud contract as the batch cards: null keys
    * count under the reserved sentinel, a non-castable key (a string
    * source IP) RAISES with the xxhash64 remediation. */
  def keySkewStream(df: DataFrame, tsName: String, key: Column,
      windowDuration: String, watermarkDelay: String, topK: Int = 10)
      (onCards: DataFrame => Unit): DataStreamWriter[Row] =
    finalized(Heuristics.windowedAgg(
        df.withWatermark(tsName, watermarkDelay), col(tsName),
        windowDuration, Seq(key.as("k")))(count(lit(1)).as("n"))) { b =>
      if (!b.isEmpty) onCards(keySkewEpilogue(b, topK))
    }

  /** [[keySkewStream]]'s foreachBatch epilogue as a NAMED batch
    * function: finalized (window_start_ms, k, n) counts → one skew
    * card per window. Extracted so the exact code the stream runs is
    * also driver-visible and oracle-hashed — q177 feeds it
    * batch-finalized counts and shares q168's oracle verbatim, so a
    * refactor that drifted the epilogue's semantics would
    * hash-mismatch at the gate instead of only failing the
    * streaming parity spec. */
  def keySkewEpilogue(counts: DataFrame, topK: Int = 10): DataFrame =
    graft.operators.Skew.keySkewCardOfCounts(counts,
        col("window_start_ms"), col("k"), col("n"), topK)
      .withColumnRenamed("stratum", "window_start_ms")

  /** Config-tick source (ref s/metrics/CfgTickGenerator.java:13,59 —
    * the unbounded generator emitting pipeline-config JSON every N s):
    * a `rate` stream projected onto the config literal. Union into the
    * input stream so downstream detectors see periodic heartbeats. */
  def cfgTickStream(spark: org.apache.spark.sql.SparkSession,
      intervalSeconds: Int, configJson: String): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", "1") // rate's floor; thinned below
      .load()
      .filter(pmod(unix_seconds(col("timestamp")), lit(intervalSeconds)) === 0)
      .select(col("timestamp"),
        lit("cfgtick").as("payload_type"),
        lit(configJson).as("value"))

  // -- keyed state: one transformWithState host, one scan per detector ----

  /** Native state TTL; 0 = none. */
  private def ttlConfig(stateTtlSeconds: Long): TTLConfig =
    if (stateTtlSeconds > 0)
      TTLConfig(java.time.Duration.ofSeconds(stateTtlSeconds))
    else TTLConfig.NONE

  /** State TTL is a processing-time concept: the engine requires
    * `TimeMode.ProcessingTime` whenever any state has a TTL. That mode
    * keeps scheduling micro-batches on idle input — right for
    * production, but it livelocks bounded replays that drain with
    * `processAllAvailable` — so TTL is opt-in, and without it
    * micro-batches stay purely data-driven. */
  private def timeMode(stateTtlSeconds: Long): TimeMode =
    if (stateTtlSeconds > 0) TimeMode.ProcessingTime() else TimeMode.None()

  /** The keyed-state host every per-key detector runs on: Spark 4's
    * `transformWithState`, the closest analog of the reference's keyed
    * ValueState + expiry Timer (ref alert/AlertSuppressor.java:53-143).
    * Per key it holds ONE named `ValueState[S]` with an optional native
    * TTL (the store evicts idle keys itself, no timeout bookkeeping)
    * and runs a pure per-micro-batch kernel
    * `scan(key, state, rows) => (state', out)`; a `None` state' leaves
    * the stored value untouched. When the query is seeded from a
    * snapshot, `handleInitialState` writes the restored value once per
    * key before any input row. Requires the RocksDB state store
    * provider (`spark.sql.streaming.stateStore.providerClass =
    * ...state.RocksDBStateStoreProvider`). */
  class ScanProcessor[I, S, O](stateName: String, stateEncoder: Encoder[S],
      stateTtlSeconds: Long,
      scan: (String, Option[S], Seq[I]) => (Option[S], Seq[O]))
      extends StatefulProcessorWithInitialState[String, I, O, S] {
    @transient private var state: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[S](stateName, stateEncoder,
        ttlConfig(stateTtlSeconds))

    override def handleInitialState(key: String, initial: S,
        timerValues: TimerValues): Unit = state.update(initial)

    override def handleInputRows(key: String, rows: Iterator[I],
        timerValues: TimerValues): Iterator[O] = {
      val (next, out) = scan(key,
        if (state.exists()) Some(state.get()) else None, rows.toSeq)
      next.foreach(state.update)
      out.iterator
    }
  }

  /** Run `scan` per `key` on [[ScanProcessor]] in append mode. The
    * state lives under `stateName`, the name [[snapshotTwsValueState]]
    * reads it back by; `initial` seeds it from a restored snapshot
    * ([[readStateSnapshot]]) so a new run continues exactly where a
    * snapshotted one stopped (SURVEY §2.6 design point d: the
    * reference's Datastore becomes Spark state plus parquet
    * snapshots). Kernels get a micro-batch's rows in no defined order
    * and sort them themselves; batches must arrive in event-time order
    * for batch parity (the watermarked-source contract). */
  def keyedScan[I, S: Encoder, O: Encoder](ds: Dataset[I], key: I => String,
      stateName: String, stateTtlSeconds: Long = 0,
      initial: Option[Dataset[(String, S)]] = None)(
      scan: (String, Option[S], Seq[I]) => (Option[S], Seq[O])): Dataset[O] = {
    val grouped = ds.groupByKey(key)(Encoders.STRING)
    val processor = new ScanProcessor[I, S, O](stateName,
      implicitly[Encoder[S]], stateTtlSeconds, scan)
    val mode = timeMode(stateTtlSeconds)
    initial match {
      case None =>
        grouped.transformWithState(processor, mode, OutputMode.Append())
      case Some(init) =>
        grouped.transformWithState(processor, mode, OutputMode.Append(),
          init.groupByKey(_._1)(Encoders.STRING).mapValues(_._2))
    }
  }

  /** SNAPSHOT half of the cross-run state design: read a (stopped)
    * transformWithState query's named value state out of its
    * checkpoint through Spark's state-store data source and land it
    * as plain parquet — engine-neutral bytes a later run (or another
    * system entirely, as with the reference's Datastore) can restore
    * from. */
  def snapshotTwsValueState(spark: SparkSession,
      checkpointDir: String, stateVarName: String, outPath: String): Unit =
    spark.read.format("statestore")
      .option("path", checkpointDir)
      .option("stateVarName", stateVarName)
      .load()
      .write.mode("overwrite").parquet(outPath)

  /** RESTORE half: a [[snapshotTwsValueState]] parquet snapshot as the
    * `(key, state)` dataset a detector's `initial =` seeds from; the
    * stored `value` struct is cast to the state encoder's schema. */
  def readStateSnapshot[S: Encoder](spark: SparkSession,
      path: String): Dataset[(String, S)] = {
    val enc = implicitly[Encoder[S]]
    spark.read.parquet(path)
      .select(col("key.value").as("_1"),
        col("value").cast(enc.schema.catalogString).as("_2"))
      .as(Encoders.tuple(Encoders.STRING, enc))
  }

  // -- stateful suppression ---------------------------------------------

  case class Keyed(key: String, tsUs: Long)
  case class Emitted(key: String, tsUs: Long)
  case class SuppressState(lastEmitUs: Long)
  case class KeyedCount(key: String, tsUs: Long, count: Long)
  case class EmittedCount(key: String, tsUs: Long, count: Long)
  case class CountState(lastEmitUs: Long, lastCount: Long)

  /** Streaming AlertSuppressor (ref s/alert/AlertSuppressor.java:
    * 53-143): per key, emit the first element, then suppress until
    * strictly more than `expirySeconds` after the last emitted element
    * (the reference's strict `isExpired`); state `lastEmit` is one
    * timestamp per key. With `stateTtlSeconds > 0` the state is dropped
    * after that much processing-time silence (the reference's
    * expiry+60s cleanup timer) — use it with a processing-time trigger
    * (see `timeMode`). Within a micro-batch elements are processed in
    * event-time order. `initial` restores a `lastEmit` snapshot.
    * StreamingSpec pins the expiry edge, TTL eviction and the
    * snapshot → restore round trip; StatefulSpec pins the batch twin
    * [[graft.operators.Stateful.suppress]]. */
  def suppress(ds: Dataset[Keyed], expirySeconds: Long,
      stateTtlSeconds: Long = 0,
      initial: Option[Dataset[(String, SuppressState)]] = None)
      : Dataset[Emitted] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val expiryUs = expirySeconds * 1000000L
    keyedScan[Keyed, SuppressState, Emitted](ds, _.key, "lastEmit",
        stateTtlSeconds, initial) { (key, st, events) =>
      var last = st
      val out = Seq.newBuilder[Emitted]
      events.sortBy(_.tsUs).foreach { e =>
        if (last.forall(s => e.tsUs - s.lastEmitUs > expiryUs)) {
          last = Some(SuppressState(e.tsUs))
          out += Emitted(key, e.tsUs)
        }
      }
      (last, out.result())
    }
  }

  /** Count-aware suppressor (ref s/alert/AlertSuppressorCount.java:
    * 27-35 + AlertSuppressor.java:96-143): like `suppress`, but an
    * element whose count DIFFERS from the last-emitted count re-emits
    * even inside the suppression window (the alert changed — bigger
    * OR smaller — so it is news again); state `(ts, count)` is
    * overwritten on every emission, including the expiry path, and
    * left untouched by suppressed elements. StreamingSpec pins it
    * against the batch twin [[graft.operators.Stateful.suppressCount]]. */
  def suppressCount(ds: Dataset[KeyedCount],
      expirySeconds: Long): Dataset[EmittedCount] = {
    val spark = ds.sparkSession
    import spark.implicits._
    keyedScan[KeyedCount, CountState, EmittedCount](ds, _.key,
        "lastEmit") { (key, st, events) =>
      val (next, out) = suppressCountScan[KeyedCount](
        expirySeconds * 1000000L, _.tsUs, _.count)(st, events)
      (next, out.map(e => EmittedCount(key, e.tsUs, e.count)))
    }
  }

  /** One key's AlertSuppressorCount decisions, shared by
    * [[suppressCount]] and `CustomsPipeline.enumerationAlertStream`:
    * events in (ts, count) order (the batch twin's ties: equal-ts events
    * replay the smaller count first); emit iff no state, strictly more
    * than `expiryUs` past the last emission, or a different count; each
    * emission overwrites the state. Returns the final state and the
    * emitted events. */
  def suppressCountScan[E](expiryUs: Long, tsUs: E => Long,
      count: E => Long)(st0: Option[CountState], events: Seq[E])
      : (Option[CountState], Seq[E]) = {
    var st = st0
    val out = Seq.newBuilder[E]
    events.sortBy(e => (tsUs(e), count(e))).foreach { e =>
      if (st.forall(s => tsUs(e) - s.lastEmitUs > expiryUs ||
          count(e) != s.lastCount)) {
        st = Some(CountState(tsUs(e), count(e)))
        out += e
      }
    }
    (st, out.result())
  }

  // -- element-count early firing (assume-role correlation) --------------

  /** One AssumeRole half on the wire (the streaming row shape of
    * [[graft.operators.AuthState.assumeRoleCorrelate]]'s inputs). */
  case class CorrEvent(key: String, tsUs: Long, dk: String,
      fixup: Boolean, cross: Boolean, user: String)
  /** An emitted correlation: the trusting half's timestamp with the
    * trusted side's subject user (the batch operator's output row). */
  case class CorrPair(key: String, tsMs: Long, fixedUser: String)

  /** Cross-account AssumeRole correlation with TRUE element-count
    * early firing — the reference's
    * `AfterPane.elementCountAtLeast(2)` trigger (ref
    * s/authprofile/AwsAssumeRoleCorrelator.java:47-59), which classic
    * Spark windowed aggregation cannot express (SURVEY §7(c)): a
    * session-window aggregate only emits on watermark close, and the
    * prior approximation here was a short processing-time trigger.
    * `transformWithState` CAN express it: state is a per-shared-id
    * buffer of halves seen so far, and a pair is emitted IN THE SAME
    * MICRO-BATCH the completing half arrives — exactly "fire as soon
    * as the pane holds 2 elements", with no watermark involved and no
    * polling. StreamingSpec pins both the early firing (pair emitted
    * in the arrival batch of the second half) and batch-equivalence
    * of the emitted pair set.
    *
    * Dedupe discipline: the reference keeps the FIRST-ARRIVED event
    * per (shared id, event id) — late re-deliveries must not shift or
    * re-fire the pairing (awscorr4) — so a row whose dedupe key is
    * already buffered is dropped on arrival. Within one micro-batch
    * (no arrival order exists) rows process in (tsUs, dk) order for
    * determinism, matching the batch operator's earliest-wins pick.
    * Each pair fires exactly once: new-vs-stored only — stored pairs
    * already fired in their own arrival batch.
    *
    * The per-key buffer holds one row per distinct CloudTrail event
    * id inside one correlation window (2-4 rows in practice); TTL
    * evicts idle shared ids. The only keyed detector whose state is a
    * `ListState` buffer rather than one value, so it keeps its own
    * processor instead of [[ScanProcessor]]. */
  class AssumeRoleProcessor(gapUs: Long, stateTtlSeconds: Long)
      extends StatefulProcessor[String, CorrEvent, CorrPair] {
    @transient private var halves: ListState[CorrEvent] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      halves = getHandle.getListState[CorrEvent]("halves",
        Encoders.product[CorrEvent], ttlConfig(stateTtlSeconds))

    override def handleInputRows(key: String, rows: Iterator[CorrEvent],
        timerValues: TimerValues): Iterator[CorrPair] = {
      val stored = scala.collection.mutable.ArrayBuffer.empty[CorrEvent]
      val it = halves.get()
      while (it.hasNext) stored += it.next()
      val out = Seq.newBuilder[CorrPair]
      rows.toSeq.sortBy(e => (e.tsUs, e.dk)).foreach { e =>
        if (!stored.exists(_.dk == e.dk)) { // first arrival wins
          if (e.fixup) { // trusting half completes against trusteds
            stored.iterator
              .filter(s => !s.fixup && s.cross &&
                math.abs(e.tsUs - s.tsUs) <= gapUs)
              .foreach(s => out += CorrPair(key, e.tsUs / 1000, s.user))
          } else if (e.cross) { // trusted half completes against trustings
            stored.iterator
              .filter(t => t.fixup && math.abs(e.tsUs - t.tsUs) <= gapUs)
              .foreach(t => out += CorrPair(key, t.tsUs / 1000, e.user))
          }
          stored += e
          halves.appendValue(e)
        }
      }
      out.result().iterator
    }
  }

  /** [[AssumeRoleProcessor]] per shared id, in append mode. */
  def assumeRoleCorrelate(ds: Dataset[CorrEvent], gapSeconds: Long,
      stateTtlSeconds: Long = 0): Dataset[CorrPair] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_.key)
      .transformWithState(
        new AssumeRoleProcessor(gapSeconds * 1000000L, stateTtlSeconds),
        timeMode(stateTtlSeconds), OutputMode.Append())
  }

  /** Streaming near-duplicate pair detection — the stream-stream
    * SELF-JOIN form of the batch `Dedup.simhashPairs`: each arriving
    * document is simhashed row-locally (`util.SimHash`, the pure
    * mirror of the batch aggregate — no per-doc shuffle), exploded to
    * its four 8-bit band keys, and joined against the same stream on
    * (band, bkey) within ±`horizon` event time. The watermark plus the
    * time-range join condition let the engine expire band-key state
    * continuously — the standard bounded-state recipe for
    * stream-stream joins — so state is O(docs within horizon /
    * 2^8 per band bucket), not the full history. Candidates are
    * verified by exact 32-bit hamming distance, like the batch form.
    *
    * Input columns: event-time column named `tsName`, doc id, text.
    * Output: (doc_a, doc_b, hamming) with doc_a < doc_b. */
  def simhashNearDupStream(docs: DataFrame, tsName: String, id: Column,
      text: Column, maxHamming: Int, horizon: String,
      watermarkDelay: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    // native codegen expression, not a Scala UDF: stays inside
    // whole-stage codegen and null-propagates (null text → null hash,
    // dropped by the equi-join) exactly like the batch operator
    val hashCol = ColumnBridge.column(
      graft.functions.SimHashExpr(ColumnBridge.expression(text)))
    val hashed = docs
      .select(col(tsName).as("ts"), id.as("doc_id"), hashCol.as("simhash"))
      .select(col("ts"), col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bkey",
        pmod((col("simhash") / pow(lit(2.0), col("band") * 8).cast("long"))
          .cast("long"), lit(256L)))
    val x = hashed.toDF("ts_a", "doc_a", "h_a", "band_a", "bkey_a")
      .withWatermark("ts_a", watermarkDelay)
    val y = hashed.toDF("ts_b", "doc_b", "h_b", "band_b", "bkey_b")
      .withWatermark("ts_b", watermarkDelay)
    // doc ordering deliberately uses =!= plus least/greatest, NOT
    // doc_a < doc_b in the join condition: the engine's state-watermark
    // derivation walks every </<=/>/>= predicate of a stream-stream
    // join condition assuming it constrains event time, and a plain
    // attribute comparison makes that walk throw (Unevaluable) —
    // Not(EqualTo) is skipped by it.
    x.join(y,
        col("band_a") === col("band_b") && col("bkey_a") === col("bkey_b") &&
          col("doc_a") =!= col("doc_b") &&
          col("ts_b") >= col("ts_a") - expr(s"INTERVAL $horizon") &&
          col("ts_b") <= col("ts_a") + expr(s"INTERVAL $horizon"))
      .withColumn("hamming",
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"), col("hamming"))
  }
  // ^ emits one row per AGREEING band and orientation (a pair at
  // hamming <= 3 agrees on at least one of the four 8-bit bands by
  // pigeonhole, so recall is total; a pair can emit up to 8 times,
  // canonically ordered via least/greatest). Exact once-per-pair output
  // would chain a second stateful operator (dropDuplicatesWithinWatermark)
  // behind the join — supported by the engine, but the multiplicity is
  // harmless to every downstream use here (pair sets, CC edges are
  // duplicate-idempotent) and one stateful stage keeps state accounting
  // simple.

  case class AccountEvent(key: String, tsUs: Long, kind: String)
  case class AtRiskState(flaggedAtUs: Long)
  case class AtRiskAlert(key: String, tsUs: Long)

  /** Per-batch at-risk scan: a `flag` marks the account, any later
    * `fail` while flagged alerts. */
  private def atRiskScan(key: String, st: Option[AtRiskState],
      events: Seq[AccountEvent]): (Option[AtRiskState], Seq[AtRiskAlert]) = {
    var flagged = st.map(_.flaggedAtUs)
    val out = Seq.newBuilder[AtRiskAlert]
    events.sortBy(_.tsUs).foreach { e =>
      e.kind match {
        case "flag" => flagged = Some(e.tsUs)
        case "fail" if flagged.exists(e.tsUs >= _) =>
          out += AtRiskAlert(key, e.tsUs)
        case _ => ()
      }
    }
    (flagged.map(AtRiskState(_)), out.result())
  }

  /** At-risk account tracking (ref s/customs/CustomsAtRiskAccountState
    * + CustomsLoginFailureForAtRiskAccount.java): a `flag` event marks
    * the account at-risk; any later `fail` event while flagged emits
    * an alert. State `flagged` is one timestamp per flagged account;
    * with a TTL a stale flag ages out of the store — the reference's
    * Datastore expiry semantics. FullPipelineSpec pins it against the
    * batch [[graft.operators.CustomsDetectors.loginFailureAtRiskAccount]]
    * chain. */
  def atRiskAccounts(ds: Dataset[AccountEvent],
      stateTtlSeconds: Long = 0): Dataset[AtRiskAlert] = {
    val spark = ds.sparkSession
    import spark.implicits._
    keyedScan[AccountEvent, AtRiskState, AtRiskAlert](ds, _.key, "flagged",
      stateTtlSeconds)(atRiskScan)
  }

  case class SeqEvent(key: String, tsUs: Long, seq: Long,
      isFirst: Boolean, isSecond: Boolean)
  case class SeqState(lastFirstUs: Long)
  case class SeqViolation(key: String, tsUs: Long)

  /** Per-batch sequence-abuse kernel — the same last-first pairing as
    * the batch analytic scan
    * ([[graft.operators.Heuristics.sequenceAbuse]], ref
    * s/httprequest/heuristics/EndpointSequenceAbuse.java:201-233):
    * events scan in (ts, firsts-before-seconds, seq) order; a
    * first-half event advances the tracker (before the second-half
    * test, so a same-timestamp first+second pairs); a second-half
    * event strictly inside `deltaUs` of the tracked last first emits
    * ONE violation — earlier firsts are superseded, never multiplied. */
  private def seqAbuseScan(deltaUs: Long)(key: String, st: Option[SeqState],
      events: Seq[SeqEvent]): (Option[SeqState], Seq[SeqViolation]) = {
    var lastFirst = st.map(_.lastFirstUs)
    val out = Seq.newBuilder[SeqViolation]
    events.sortBy(e => (e.tsUs, !e.isFirst, e.seq)).foreach { e =>
      if (e.isFirst) lastFirst = Some(e.tsUs)
      if (e.isSecond && lastFirst.exists(e.tsUs < _ + deltaUs))
        out += SeqViolation(key, e.tsUs)
    }
    (lastFirst.map(SeqState(_)), out.result())
  }

  /** Streaming last-first sequence abuse: per-key state `lastFirst` is
    * ONE timestamp (the latest first-half event seen), carried across
    * micro-batches. Violations emit as individual rows — the
    * count/threshold the batch form applies per key is a downstream
    * aggregation choice, exactly as the reference applies it inside
    * its session windows. A TTL >= delta is lossless: a tracked first
    * older than delta can never pair again. StreamingSpec pins the
    * per-key counts against the batch scan. */
  def sequenceAbuseStream(ds: Dataset[SeqEvent], deltaMs: Long,
      stateTtlSeconds: Long = 0): Dataset[SeqViolation] = {
    val spark = ds.sparkSession
    import spark.implicits._
    keyedScan[SeqEvent, SeqState, SeqViolation](ds, _.key, "lastFirst",
      stateTtlSeconds)(seqAbuseScan(deltaMs * 1000L))
  }

  case class GeoLogin(key: String, tsUs: Long, lat: Double, lon: Double)
  case class GeoState(tsUs: Long, lat: Double, lon: Double)
  case class TravelAlert(key: String, tsUs: Long, speedKmh: Long)

  /** Per-batch geo-velocity kernel: each login against the identity's
    * previous location, the state advancing to the latest. */
  private def geoVelocityScan(maxKmh: Double)(key: String,
      prev0: Option[GeoState], events: Seq[GeoLogin])
      : (Option[GeoState], Seq[TravelAlert]) = {
    var prev = prev0
    val out = Seq.newBuilder[TravelAlert]
    events.sortBy(_.tsUs).foreach { e =>
      prev.foreach { p =>
        if (e.tsUs > p.tsUs) {
          val km = graft.util.GeoUtil.haversineKm(p.lat, p.lon, e.lat, e.lon)
          val hours = (e.tsUs - p.tsUs) / 3600.0e6
          val speed = math.floor(km / hours + 0.5).toLong
          if (speed > maxKmh) out += TravelAlert(key, e.tsUs, speed)
        }
      }
      if (prev.forall(_.tsUs <= e.tsUs))
        prev = Some(GeoState(e.tsUs, e.lat, e.lon))
    }
    (prev, out.result())
  }

  /** Streaming geo-velocity (ref s/authstate/AuthStateModel.java:
    * 241-430 via Datastore; here the per-identity last location is the
    * `lastLoc` state, and a TTL ages idle identities out like the
    * reference's Datastore entry pruning): each login is compared
    * against the previous one for the same identity; impossible
    * travel speed emits an alert and the state advances to the latest
    * location. Within a micro-batch logins are processed in event-time
    * order. StreamingSpec pins the speed against the batch (lag-window)
    * [[graft.operators.Stateful.geoVelocity]]. */
  def geoVelocity(ds: Dataset[GeoLogin], maxKmh: Double,
      stateTtlSeconds: Long = 0): Dataset[TravelAlert] = {
    val spark = ds.sparkSession
    import spark.implicits._
    keyedScan[GeoLogin, GeoState, TravelAlert](ds, _.key, "lastLoc",
      stateTtlSeconds)(geoVelocityScan(maxKmh))
  }

  case class VelLogin(key: String, tsUs: Long, addr: String,
      email: String, lat: Double, lon: Double)
  case class VelState(addr: String, tsUs: Long, lat: Double, lon: Double,
      windowId: Long, seen: Seq[String])
  case class VelAlert(key: String, tsUs: Long, addr: String,
      prevAddr: String, tdS: Long, kmCenti: Long)

  /** Per-batch customs-velocity kernel: one latest entry plus the
    * current dedupe window's seen-address set per uid. */
  private def velocityScan(windowUs: Long, maxCentiPerSec: Double,
      minCenti: Double)(key: String, st0: Option[VelState],
      events: Seq[VelLogin]): (Option[VelState], Seq[VelAlert]) = {
    var st = st0
    val out = Seq.newBuilder[VelAlert]
    events.sortBy(e => (e.tsUs, e.addr)).foreach { e =>
      val w = Math.floorDiv(e.tsUs, windowUs)
      val seen: Set[String] = st match {
        case Some(s) if s.windowId == w => s.seen.toSet
        case _ => Set.empty
      }
      if (!seen.contains(e.addr)) {
        st match {
          case Some(s) if s.addr != e.addr =>
            val kmCenti = math.floor(graft.util.GeoUtil
              .haversineKm(s.lat, s.lon, e.lat, e.lon) * 100 + 0.5)
              .toLong
            val tdS = Math.floorDiv(e.tsUs, 1000000L) -
              Math.floorDiv(s.tsUs, 1000000L)
            if (kmCenti >= minCenti && kmCenti > maxCentiPerSec * tdS)
              out += VelAlert(key, e.tsUs, e.addr, s.addr, tdS, kmCenti)
          case _ => ()
        }
        st = Some(VelState(e.addr, e.tsUs, e.lat, e.lon, w,
          (seen + e.addr).toSeq.sorted))
      }
    }
    (st, out.result())
  }

  /** Streaming CustomsVelocity (ref s/customs/CustomsVelocity.java:
    * 93-351, where state is the Datastore AuthStateModel with
    * PruningStrategyLatest): per uid, each address is considered once
    * per dedupe window; a differing address is compared against the
    * latest state entry (haversine distance, floored-epoch-second
    * delta), alerting when implied speed exceeds `maxKmPerSecond` and
    * the jump covers `minDistanceKm`. State `latest` per key = ONE
    * latest entry + the current window's seen-address set; a TTL ages
    * idle uids out. CustomsDetectorsSpec pins it against the batch
    * [[graft.operators.CustomsDetectors.velocity]]. */
  def customsVelocity(ds: Dataset[VelLogin], maxKmPerSecond: Double,
      minDistanceKm: Double, dedupeWindowSeconds: Long = 300,
      stateTtlSeconds: Long = 0): Dataset[VelAlert] = {
    val spark = ds.sparkSession
    import spark.implicits._
    keyedScan[VelLogin, VelState, VelAlert](ds, _.key, "latest",
      stateTtlSeconds)(velocityScan(dedupeWindowSeconds * 1000000L,
        maxKmPerSecond * 100, minDistanceKm * 100))
  }

  case class RelayEvent(key: String, tsUs: Long, seq: Long,
      eventType: String, realAddress: String)
  case class RelayState(tsUs: Long, seq: Long, addr: String)
  case class RelayAlert(key: String, tsMs: Long, actual: String,
      expected: String)

  /** Per-batch relay-forward kernel: every relay or RP event leaves the
    * state's real address equal to its own hash, and a forward whose
    * hash differs from the known previous value alerts — the
    * reference's Datastore state walk
    * (ref s/customs/PrivateRelayForward.java:114-263). */
  private def relayScan(key: String, st0: Option[RelayState],
      events: Seq[RelayEvent]): (Option[RelayState], Seq[RelayAlert]) = {
    import graft.operators.CustomsDetectors.{EmailRelay, FxaRpEvent}
    var st = st0
    val out = Seq.newBuilder[RelayAlert]
    events
      .filter(e => e.eventType == EmailRelay || e.eventType == FxaRpEvent)
      .sortBy(e => (e.tsUs, e.seq)).foreach { e =>
        st match {
          case Some(s) if e.eventType == EmailRelay &&
              s.addr != e.realAddress =>
            out += RelayAlert(key, Math.floorDiv(e.tsUs, 1000L),
              e.realAddress, s.addr)
          case _ => ()
        }
        st = Some(RelayState(e.tsUs, e.seq, e.realAddress))
      }
    (st, out.result())
  }

  /** Streaming PrivateRelayForward: exactly the batch operator's lag(1)
    * semantics ([[graft.operators.CustomsDetectors.privateRelayForward]]).
    * State `lastAddr` per uid = ONE (ts, seq, addr) entry — bounded
    * regardless of traffic — with an optional TTL (the reference's
    * state-expiry cleanup). Within a micro-batch events are processed
    * in (event-time, seq) order. `initial` restores a `lastAddr`
    * snapshot. CustomsDetectorsSpec pins batch parity on real events
    * and the snapshot → restore round trip. */
  def privateRelayForwardStream(ds: Dataset[RelayEvent],
      stateTtlSeconds: Long = 0,
      initial: Option[Dataset[(String, RelayState)]] = None)
      : Dataset[RelayAlert] = {
    val spark = ds.sparkSession
    import spark.implicits._
    keyedScan[RelayEvent, RelayState, RelayAlert](ds, _.key, "lastAddr",
      stateTtlSeconds, initial)(relayScan)
  }

  case class AuthLogin(key: String, tsUs: Long, addr: String,
      lat: Double, lon: Double)
  case class AuthEntry(addr: String, tsUs: Long, lat: Double, lon: Double)
  case class AuthModel(entries: Seq[AuthEntry])
  case class AuthAction(key: String, tsUs: Long, addr: String,
      action: String, kmCenti: Option[Long], prevAddr: Option[String])

  /** Per-batch known-IP model scan: entry-age pruning, then known /
    * unknown-within / unknown-outside / unknown-failure per login. */
  private def authStateScan(pruneUs: Long, maxCenti: Double)(key: String,
      model0: Option[AuthModel], events: Seq[AuthLogin])
      : (Option[AuthModel], Seq[AuthAction]) = {
    val entries = scala.collection.mutable.HashMap.empty[String, AuthEntry]
    model0.foreach(_.entries.foreach(e => entries(e.addr) = e))
    val out = Seq.newBuilder[AuthAction]
    events.sortBy(e => (e.tsUs, e.addr)).foreach { e =>
      entries.filterInPlace((_, en) => e.tsUs - en.tsUs <= pruneUs)
      if (entries.contains(e.addr)) {
        entries(e.addr) = AuthEntry(e.addr, e.tsUs, e.lat, e.lon)
        out += AuthAction(key, e.tsUs, e.addr,
          graft.operators.AuthState.KnownIp, None, None)
      } else {
        val prev = if (entries.isEmpty) None
          else Some(entries.values.maxBy(en => (en.tsUs, en.addr)))
        entries(e.addr) = AuthEntry(e.addr, e.tsUs, e.lat, e.lon)
        prev match {
          case None => out += AuthAction(key, e.tsUs, e.addr,
            graft.operators.AuthState.UnknownGeoFailure, None, None)
          case Some(p) =>
            val kmCenti = math.floor(graft.util.GeoUtil
              .haversineKm(p.lat, p.lon, e.lat, e.lon) * 100 + 0.5).toLong
            val action = if (kmCenti > maxCenti)
              graft.operators.AuthState.UnknownOutsideGeo
            else graft.operators.AuthState.UnknownWithinGeo
            out += AuthAction(key, e.tsUs, e.addr, action,
              Some(kmCenti), Some(p.addr))
        }
      }
    }
    (Some(AuthModel(entries.values.toSeq.sortBy(_.addr))), out.result())
  }

  /** Streaming known-IP state analysis (ref s/authprofile/AuthProfile
    * .java:568-660 + s/authstate/AuthStateModel.java:241-430, where
    * the model lives in Datastore; here it is the `model` keyed
    * state). State per identity = the full pruned address model —
    * every source address previously seen with last-touch timestamp
    * and location — NOT just the latest location: a user alternating
    * between home and office must classify known_ip from both.
    * Entry-age pruning (PruningStrategyEntryAge.java:31-44) bounds
    * the state size; a TTL drops identities that stop logging in
    * entirely. Within a micro-batch events process in event-time
    * order. AuthStateSpec pins it across batches; the batch operator
    * is [[graft.operators.AuthState.stateAnalyze]]. */
  def authStateAnalyze(ds: Dataset[AuthLogin], pruneAgeSeconds: Long,
      maxKmStatic: Double, stateTtlSeconds: Long = 0): Dataset[AuthAction] = {
    val spark = ds.sparkSession
    import spark.implicits._
    keyedScan[AuthLogin, AuthModel, AuthAction](ds, _.key, "model",
      stateTtlSeconds)(authStateScan(pruneAgeSeconds * 1000000L,
        maxKmStatic * 100))
  }
}
