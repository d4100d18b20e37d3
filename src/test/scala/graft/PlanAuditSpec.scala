package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

/** Physical-plan audits for the round-2 operators: the properties
  * that make these plans survive a 100x scale-up — broadcast where
  * the side is provably small, codegen through the similarity inner
  * loop, no accidental cartesian products. */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("monitored-list detectors probe the list as a literal set, with " +
      "no join") {
    val p = plan(SparkEntry.queries("q47_monitored_activity")(spark, sf))
    assert(p.contains("INSET"), s"monitored list should be an InSet probe:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"monitored list should not be joined:\n$p")
  }

  test("account enumeration: variance gate joins stay keyed, clients broadcast") {
    val p = plan(SparkEntry.queries("q44_account_enumeration")(spark, sf))
    assert(p.contains("BroadcastExchange"),
      s"window-client floor should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("similarity scoring runs the native dot product inside codegen") {
    val df = SparkEntry.queries("q19_cosine_topk")(spark, sf)
    // the native expression must appear in the plan (not an HOF chain)
    val logical = df.queryExecution.optimizedPlan.toString
    assert(logical.contains("dot_q"),
      s"native dot_q missing from plan:\n$logical")
    assert(!logical.contains("aggregate(zip_with"),
      s"interpreted HOF chain leaked back into the plan:\n$logical")
    df.collect() // finalize AQE so codegen stages materialize
    val p = plan(df)
    // codegen stages render as "*(n)" in the simple plan string
    assert(p.contains("*("), s"no whole-stage-codegen stages:\n$p")
  }

  test("velocity and auth-state scans are single-exchange per key") {
    // one Exchange hashpartitioning on the analysis key feeding the
    // window/sort — no repeated shuffles of the event stream
    val p = plan(SparkEntry.queries("q43_customs_velocity")(spark, sf))
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // dedupe window rank + per-uid lag reuse the same uid partitioning:
    // expect at most 2 hash exchanges (uid+window+addr rank, then uid)
    assert(exchanges <= 2, s"too many exchanges ($exchanges):\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("pioneer exfiltration: both window frames share one sort") {
    val p = plan(SparkEntry.queries("q54_pioneer_exfil")(spark, sf))
    // range-frame sum/max and the pick rank all run over (key, session)
    // orderings; the plan must not shuffle the flow stream more than
    // twice (session assignment on key, then key+session windows)
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"too many exchanges ($exchanges):\n$p")
  }

  test("exploded shingles: doc_id fan-out satisfies the per-doc dedup — one shuffle") {
    import org.apache.spark.sql.functions.col
    // an earlier suite may have cached a matching shingle frame; a
    // substituted InMemoryRelation would distort the exchange count
    spark.catalog.clearCache()
    val docs = graft.sources.Tables.documents(spark, sf)
    val sh = graft.operators.Dedup.explodedShingles(docs, col("doc_id"),
      col("text"), 3, org.apache.spark.storage.StorageLevel.NONE)
    val p = plan(sh)
    // the fanOutBy repartition is the ONLY exchange: hash partitioning by
    // doc_id is a subset of the dropDuplicates(doc_id, s) clustering, so
    // the dedup aggregate must not re-shuffle
    val ex = p.linesIterator.count(_.contains("Exchange"))
    assert(ex == 1, s"expected exactly the fan-out exchange, got $ex:\n$p")
  }

  test("simhash: whole pipeline runs on the doc_id fan-out — one shuffle") {
    import org.apache.spark.sql.functions.col
    spark.catalog.clearCache()
    val docs = graft.sources.Tables.documents(spark, sf)
    val p = plan(graft.operators.Dedup.simhash(docs, col("doc_id"), col("text")))
    // tf groupBy(doc_id, tok), bit groupBy(doc_id, j) and the final
    // groupBy(doc_id) all key on supersets of doc_id
    val ex = p.linesIterator.count(_.contains("Exchange"))
    assert(ex == 1, s"expected exactly the fan-out exchange, got $ex:\n$p")
  }

  test("cosine near-dup: bucket equi-join, no cartesian product") {
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val df = graft.operators.Similarity.cosineNearDupPairs(emb,
      col("vec_id"), col("embedding"), minCosine = 0.5)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      s"near-dup self-join must stay keyed on the bucket:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"near-dup self-join must stay keyed on the bucket:\n$p")
  }

  test("bucketed tables join with zero exchanges (co-located join)") {
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Tables.events(spark, sf)
    val counts = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val latest = ev.groupBy(col("user_id")).agg(max(col("ts")).as("last_ts"))
    // model the 100 TB case: both sides too big to broadcast — force the
    // sort-merge path so the bucket layout is what avoids the shuffle
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      graft.sinks.Sinks.writeBucketed(counts, "bkt_counts", "user_id", 8)
      graft.sinks.Sinks.writeBucketed(latest, "bkt_latest", "user_id", 8)
      val joined = spark.table("bkt_counts")
        .join(spark.table("bkt_latest"), "user_id")
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"bucketed co-located join must not shuffle:\n$p")
      assert(joined.count() ==
        spark.table("bkt_counts").count()) // join is 1:1 on the key
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS bkt_counts")
      spark.sql("DROP TABLE IF EXISTS bkt_latest")
    }
  }

  test("IVF cell assignment is a zero-shuffle projection, not a join or window") {
    // the argmin over <= nCells collected centroid LITERALS runs in
    // the scan projection (array_min over struct(-cos, id) candidates
    // — the same total order the old min_by aggregate used). Neither
    // a window rank (corpus x nCells scored rows shuffled per pass)
    // nor the old crossJoin + re-aggregation (one corpus exchange
    // carrying the full qv array per assignment pass) may reappear.
    for (q <- Seq("q41_ivf_topk", "q66_ivf_refined")) {
      val df = SparkEntry.queries(q)(spark, sf)
      val opt = df.queryExecution.optimizedPlan.toString
      assert(!opt.contains("window"), s"$q: window rank in assignment:\n$opt")
      assert(opt.contains("array_min(array(struct"),
        s"$q: literal argmin projection missing:\n$opt")
      assert(!opt.contains("min_by"),
        s"$q: assignment re-aggregation resurfaced:\n$opt")
      val p = plan(df)
      assert(!p.contains("Window"), s"$q: Window node in physical plan:\n$p")
    }
  }

  test("KMV sketch is a bounded partial aggregate, not a window rank") {
    // the k-min-values buffer must partial-aggregate map-side (<= k
    // hashes per key per map task reach the shuffle) — the old
    // distinct() + row_number window shuffled the ENTIRE distinct
    // hash set and sorted each key's full set in one reducer task,
    // the exact skew profile the sketch exists to avoid
    val df = SparkEntry.queries("q154_kmv_distinct")(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.toLowerCase.contains("window"),
      s"q154: window rank in optimized plan:\n$opt")
    val p = plan(df)
    assert(!p.contains("Window"), s"q154: Window node in physical plan:\n$p")
    // typed Aggregator with a product buffer -> ObjectHashAggregate,
    // with an explicit partial_ (map-side combine) pass
    assert(p.contains("ObjectHashAggregate"),
      s"q154: no object hash aggregate:\n$p")
    assert(p.contains("partial_"), s"q154: no partial aggregation:\n$p")
  }

  test("langId classification is a single zero-shuffle map pass " +
      "(optimization r17), not an aggregate pipeline") {
    // r15 bounded the former aggregate form with the
    // GramTopKAggregator; r17 removed the aggregates entirely: a
    // doc's trigram profile depends only on its own row, so
    // classification is ONE mapPartitions over (doc_id, text)
    // scoring with the broadcast model via the spec-pinned
    // langIdKernel — zero Exchange, zero join, no Window. This pins
    // the stronger invariant on the classifier frame itself: nothing
    // about classifying a corpus may shuffle it. (q160 the QUERY
    // still joins/aggregates the predictions — its exchanges are the
    // report's, not the classifier's.)
    import org.apache.spark.sql.functions.col
    // no fanOut here: its repartition is an (intentional) exchange of
    // the raw scan, not part of the classifier — this pins the
    // classifier's own shape
    val d = graft.sources.Tables.documents(spark, sf)
    val profiles = graft.operators.TextAnalysis.langIdProfiles(
      d.filter(col("doc_id") % 10 < 3), col("lang"), col("text"), m = 64)
    val pred = graft.operators.TextAnalysis.langId(
      d, col("doc_id"), col("text"), profiles, penalty = 64, d = 32)
    val p = plan(pred)
    assert(!p.contains("Window"),
      s"langId: Window node in physical plan:\n$p")
    assert(!p.contains("Exchange"),
      s"langId: classification must not shuffle:\n$p")
    assert(p.contains("MapPartitions"),
      s"langId: expected the kernel map pass:\n$p")
    // and the full q160 report stays Window-free
    val q = plan(SparkEntry.queries("q160_lang_id")(spark, sf))
    assert(!q.contains("Window"), s"q160: Window node in physical plan:\n$q")
  }

  test("langIdProfiles TRAINING side is a bounded partial aggregate " +
      "keyed by lang, not a per-language window rank") {
    // the doc side got the GramTopKAggregator in r15; this pins the
    // same discipline one stage upstream: a corpus-scale labeled seed
    // carries millions of distinct (lang, gram) rows, and the old
    // row_number form re-shuffled them into |langs| single tasks and
    // sorted there — the per-key-serial straggler shape the skew
    // probe measured at 2.4-2.9x
    import org.apache.spark.sql.functions.col
    val d = graft.sources.Tables.fanOut(
      graft.sources.Tables.documents(spark, sf))
    val prof = graft.operators.TextAnalysis.langIdProfiles(
      d.filter(col("doc_id") % 10 < 3), col("lang"), col("text"),
      m = 64)
    val p = plan(prof)
    assert(!p.contains("Window"),
      s"training side: Window node in physical plan:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"training side: no object hash aggregate:\n$p")
    assert(p.contains("partial_"),
      s"training side: no partial aggregation:\n$p")
  }

  test("q157 ingest selection: document text crosses at most one exchange") {
    // the rewriteCorpus discipline: strip/blocklist/NFC-hash fuse
    // into the scan, the dedup aggregate ships 32-byte hashes, and
    // only the survivor join may move text (zero when AQE broadcasts
    // the narrow canonical side)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    val df = SparkEntry.queries("q157_ingest_select")(spark, sf)
    df.collect() // finalize AQE so the real exchanges materialize
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val textBearing = root.collect { case e: ShuffleExchangeExec => e }
      .count(_.output.exists(a => a.dataType == StringType &&
        (a.name == "text" || a.name == "raw")))
    assert(textBearing <= 1,
      s"q157 moved document text across $textBearing exchanges")
  }

  private def assertThinCandidateExchanges(queryName: String): Unit = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val df = SparkEntry.queries(queryName)(spark, sf)
    // exchanges are inserted by EnsureRequirements: read the prepared
    // plan, unwrapping the AQE root to its current physical plan
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val shuffles = root.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.nonEmpty)
    // the candidate-duplication-multiplied exchanges are the ones keyed
    // on (pset, bucket) [candidate join] and (vec_a, vec_b) [pair
    // dedup]; neither may move array payload — vectors cross the wire
    // only in the corpus-linear re-join exchanges keyed on a single id
    val wide = shuffles.filter { e =>
      val keys = e.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.expressions.flatMap(_.references.map(_.name)).toSet
        case _ => Set.empty[String]
      }
      val carriesArray = e.output.exists(_.dataType.isInstanceOf[ArrayType])
      (keys == Set("pset", "bucket") || keys == Set("vec_a", "vec_b")) &&
        carriesArray
    }
    assert(wide.isEmpty,
      s"candidate-scale exchange carries vectors:\n${wide.mkString("\n")}")
    // and the dedup exchange itself must exist in the thin form
    assert(shuffles.exists { e =>
      val keys = e.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.expressions.flatMap(_.references.map(_.name)).toSet
        case _ => Set.empty[String]
      }
      keys == Set("vec_a", "vec_b") &&
        !e.output.exists(_.dataType.isInstanceOf[ArrayType])
    }, s"no thin (vec_a, vec_b) dedup exchange found:\n${shuffles.mkString("\n")}")
  }

  test("multi-plane near-dup: candidate join and pair-dedup exchanges carry no vectors") {
    assertThinCandidateExchanges("q70_embedding_neardup_multi")
  }

  test("single-set near-dup rides the same thinned kernel (planeSets = 1)") {
    assertThinCandidateExchanges("q62_embedding_neardup")
  }

  test("watchlist scan: watchlist broadcast, alerts never sort-merge-shuffled") {
    val p = plan(SparkEntry.queries("q74_watchlist_scan")(spark, sf))
    // the watchlist is tiny by construction; the alert stream (the
    // 100 TB side) must reach it through a broadcast hash join only
    assert(p.contains("BroadcastHashJoin"),
      s"watchlist should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"alert stream got shuffle-joined:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("session error rate: one addr exchange feeds sessionization, no extra event shuffle") {
    val p = plan(SparkEntry.queries("q75_endpoint_error_sessions")(spark, sf))
    // lag + running-sum session assignment share one (addr) sort;
    // the (addr, session) aggregate re-shuffles only the aggregated
    // rows. The raw error stream crosses the wire once.
    val exchanges = p.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"too many exchanges ($exchanges):\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("event-type filters reach the parquet scan as pushed filters") {
    // the error-only detectors must prune at the scan: a 100 TB
    // events table read for its 'error' slice cannot afford a
    // post-scan filter over every row group
    val df = SparkEntry.queries("q75_endpoint_error_sessions")(spark, sf)
    val p = plan(df)
    assert(p.contains("PushedFilters: [") &&
      p.contains("EqualTo(event_type,error)"),
      s"event_type filter not pushed to the scan:\n$p")
  }

  test("aws behavior matcher: one scan regardless of matcher count") {
    val df = SparkEntry.queries("q55_aws_behavior")(spark, sf)
    val p = plan(df)
    // single-pass explode(array(when...)): exactly one Generate node,
    // no union of per-matcher scans
    val generates = p.linesIterator.count(_.contains("Generate"))
    assert(generates == 1, s"expected one Generate:\n$p")
    assert(!p.contains("Union"), s"per-matcher scan union crept in:\n$p")
  }

  test("dual-bar velocity: escalated + monitor-only share ONE dedup+lag pass") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val logins = Seq(
      ("u1", 1700000000L, 1L, "a@x.com", "1.1.1.1", 51.5, -0.1),
      ("u1", 1700000060L, 2L, "a@x.com", "2.2.2.2", -33.9, 151.2))
      .toDF("uid", "t", "seq", "email", "addr", "lat", "lon")
      .withColumn("ts", col("t").cast("timestamp"))
    val dual = graft.operators.CustomsDetectors.velocityDual(logins,
      col("ts"), col("seq"), col("uid"), col("email"), col("addr"),
      col("lat"), col("lon"), 0.25, 100, Some(0.05), 100)
    val p = plan(dual)
    // one row_number dedup window + one lag window — the second
    // threshold bar must NOT re-sort the login stream (the reference
    // runs both checks over one state read, CustomsVelocity.java:
    // 281-320); the two-call form had four Window nodes
    val windows = p.linesIterator.count(_.contains("Window ["))
    assert(windows == 2, s"expected 2 Window passes, got $windows:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("customs distributed creation: the pair join is banded, never domain-only") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the email-domain key is the canonical hot key at corpus scale
    // (one consumer domain can hold most creations); the pair join
    // must carry the length band in its equi-join key so a hot
    // domain's candidates stay Σ per-band products, not |group|²
    val lines = (0 until 8).map(i =>
      s"""{"Timestamp":1700000000000000000,"Type":"fxa-auth","Hostname":"h","Fields":{"email":"bot$i@spam.net","action":"accountCreate","status":"200","path":"/v1/x","sourceaddress":"7.7.7.$i"}}""")
      .toDS()
    val df = graft.pipelines.CustomsPipeline.analyze(lines)
    val joined = df.queryExecution.optimizedPlan.toString
    assert(joined.contains("band"),
      s"distributed-creation join lost its band column:\n$joined")
    val p = plan(df)
    assert(!p.contains("CartesianProduct"))
    // and the banded path is output-identical to the unbanded join
    val out = df.collect().filter(
      _.getAs[String]("subcategory") == "account_creation_abuse_distributed")
    assert(out.map(_.getAs[String]("key")).toSet == Set("spam.net"))
    assert(out.head.getAs[Long]("count") == 8)
  }

  test("embedding decontamination: bench side broadcast, corpus never exchanges vectors") {
    val p = plan(SparkEntry.queries("q85_embedding_decontaminate")(spark, sf))
    // the bench side rides a broadcast; the corpus-side quantized
    // vectors must not appear in any shuffle exchange (only the
    // (vec_id, count, max) partial-agg collapse shuffles)
    assert(p.contains("BroadcastExchange"), s"bench side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    val shuffleLines = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(shuffleLines.forall(l => !l.contains("qv")),
      s"corpus vectors must not shuffle:\n${shuffleLines.mkString("\n")}")
  }

  test("exact substring sweep: hash equi-join, window text dropped before the join") {
    val p = plan(SparkEntry.queries("q87_exact_substring")(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the self-join must be keyed on the md5 fingerprint, and no
    // exchange may carry the raw document text column
    val shuffleLines = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(shuffleLines.nonEmpty)
    assert(shuffleLines.forall(l => !l.contains("text")),
      s"document text must not shuffle:\n${shuffleLines.mkString("\n")}")
  }

  test("surprisal: gram-keyed model join plus one doc-keyed aggregate, no forced model broadcast") {
    val df = SparkEntry.queries("q89_surprisal")(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"))
    // the corpus-total singleton IS broadcast (scalar side input),
    // and at sf0.001 Catalyst may auto-broadcast the tiny model too —
    // that is the CORRECT size-based choice; what must hold is that
    // the model join is keyed on the gram
    assert(p.contains("BroadcastExchange"), s"total scalar should broadcast:\n$p")
    assert(p.linesIterator.exists(l =>
      (l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") ||
        l.contains("ShuffledHashJoin")) && l.contains("[g#")),
      s"model join must be a g-keyed equi-join:\n$p")
    // and the broadcast is stats-driven, not a hint baked into the
    // operator: with auto-broadcast off the model join must fall back
    // to a keyed shuffle join (a hardcoded broadcast() would OOM the
    // driver on a corpus-sized model)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p2 = plan(SparkEntry.queries("q89_surprisal")(spark, sf))
      assert(p2.linesIterator.exists(l =>
        (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")) &&
          l.contains("[g#")),
        s"model join must degrade to a keyed shuffle join:\n$p2")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("line dedup: membership join keyed on the line hash, no forced broadcast of a corpus-sized freq table") {
    val p = plan(SparkEntry.queries("q91_line_dedup")(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // with auto-broadcast off (the corpus-scale situation: the
    // duplicated-line set is NOT small) the membership join must
    // degrade to a keyed shuffle join on the hash — a baked-in
    // broadcast() would OOM the driver at 100 TB
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p2 = plan(SparkEntry.queries("q91_line_dedup")(spark, sf))
      assert(p2.linesIterator.exists(l =>
        (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")) &&
          l.contains("[h#")),
        s"freq join must be an h-keyed shuffle join:\n$p2")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("patch-set line dedup: no exchange ever carries line or document text") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    val d = graft.sources.Tables.documents(spark, sf)
    // with auto-broadcast off (the 100 TB situation) the decision path
    // must shuffle nothing wider than (doc_id, line_no) pairs plus the
    // 32-hex line hash — the whole point of the step-up over lineDedup
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val patches = graft.operators.Dedup.lineDedupPatches(
        d, col("doc_id"), col("text"), maxLineFreq = 5, minLineChars = 5)
      val root = patches.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val shuffles = root.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.nonEmpty)
      val textCarrying = shuffles.filter(_.output.exists(a =>
        a.dataType == StringType && a.name != "h"))
      assert(textCarrying.isEmpty,
        s"patch path exchange carries text:\n${textCarrying.mkString("\n")}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("chunk patch-set dedup: no exchange ever carries chunk or document text") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    val d = graft.sources.Tables.documents(spark, sf)
    // the decision path's widest shuffled payload is (doc_id,
    // chunk_no, 32-hex chunk hash) — the whole point of the step-up
    // over chunkDedupRewrite's text-shipping reassembly
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val patches = graft.operators.Dedup.chunkDedupPatches(
        d, col("doc_id"), col("text"), maskBits = 6)
      val root = patches.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val shuffles = root.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.nonEmpty)
      val textCarrying = shuffles.filter(_.output.exists(a =>
        a.dataType == StringType && a.name != "chunk_md5"))
      assert(textCarrying.isEmpty,
        s"patch path exchange carries text:\n${textCarrying.mkString("\n")}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("composed corpus rewrite: text rides only doc_id-keyed co-location exchanges") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    val d = graft.sources.Tables.documents(spark, sf)
    // the two-stage rewrite's decision frames shuffle hashes and
    // ordinals only; document text may cross an exchange solely to
    // co-locate with its doc_id-keyed patches (and Spark reuses that
    // layout for the chunk stage) — never on any wider key
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val out = graft.pipelines.CorpusPipeline.rewriteCorpus(
        d, col("doc_id"), col("text"))
      val root = out.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val shuffles = root.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.nonEmpty)
      val textCarrying = shuffles.filter(_.output.exists(a =>
        a.dataType == StringType && a.name != "h" && a.name != "chunk_md5"))
      textCarrying.foreach { e =>
        assert(e.outputPartitioning.toString.contains("doc_id"),
          s"text exchange not doc_id-keyed: ${e.outputPartitioning}\n$e")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("packing plan: one shard-keyed hash exchange, never a global range sort") {
    val p = plan(SparkEntry.queries("q92_packing_plan")(spark, sf))
    // the orderBy in the query entry is presentation; the WINDOW
    // itself must partition by shard (hash), not range-sort the corpus
    assert(p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("shard")),
      s"window must hash-partition by shard:\n$p")
  }

  test("quality classifier: scoring join degrades to a token-keyed shuffle join without auto-broadcast") {
    val p = plan(SparkEntry.queries("q94_quality_classifier")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // the class-total singleton must broadcast (scalar side input)
    assert(p.contains("BroadcastExchange"), p)
    // at corpus scale the model is vocabulary-sized: no baked-in
    // broadcast hint — stats off must yield a tok-keyed shuffle join
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p2 = plan(SparkEntry.queries("q94_quality_classifier")(spark, sf))
      assert(p2.linesIterator.exists(l =>
        (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")) &&
          l.contains("[tok#")),
        s"model join must degrade to a tok-keyed shuffle join:\n$p2")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("semantic dedup: candidate join is cell-keyed and carries bare ids, vectors re-join per unique pair") {
    val df = SparkEntry.queries("q93_semantic_dedup")(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    // the within-cell candidate self-join must be an equi-join on the
    // cell key...
    assert(p.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) && l.contains("cell")),
      s"candidate join must key on cell:\n$p")
    // ...and no hash exchange may move the quantized vector arrays
    // together with a pair-side key (vec_a/vec_b): candidates travel
    // as bare id pairs, vectors cross the wire once with vec_id only
    val pairExchanges = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") &&
        (l.contains("vec_a") || l.contains("vec_b"))).toSeq
    assert(pairExchanges.forall(l => !l.contains("qv")),
      s"pair exchanges must not carry vectors:\n${pairExchanges.mkString("\n")}")
  }

  test("bm25: inverted-index probe is a broadcast of the enriched query terms, no window rank") {
    val df = SparkEntry.queries("q100_bm25")(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    // the candidate join must broadcast the (tiny, literal) query-term
    // side against postings — never shuffle postings by term for it
    assert(p.contains("BroadcastHashJoin"),
      s"query-term probe must broadcast:\n$p")
    // ranking rides the TopK aggregator (k rows per query per map
    // task), not a row_number window over every candidate
    assert(!p.contains("Window"), s"no window rank in BM25:\n$p")
    // no exchange may carry the raw document text: everything past
    // the scan is (doc_id, dl, term, tf)-shaped
    val shuffles = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(shuffles.forall(l => !l.contains("text")),
      s"document text must not shuffle:\n${shuffles.mkString("\n")}")
  }

  test("c4 filters: one doc-keyed aggregate, no joins, text never shuffles twice") {
    val df = SparkEntry.queries("q101_c4_filters")(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"c4 filters are line gates + one reassembly aggregate, no join:\n$p")
    // exactly the doc_id-keyed reassembly exchange (partial-agg pairs)
    val n = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(n <= 1, s"expected at most one doc-keyed exchange, got $n:\n$p")
  }

  test("heavy hitters: sketch summary broadcasts; recount is a partial hash agg, never a vocabulary shuffle") {
    val df = SparkEntry.queries("q103_heavy_hitters")(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    // the 1-row MG summary rides a broadcast to the candidate filter
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"), s"summary must broadcast:\n$p")
    // both aggregates are partial (map-side combined): the only
    // hash-partitioned exchange is keyed on the <=k candidate terms,
    // and nothing wider than the term string crosses it
    val shuffles = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(shuffles.size <= 2, s"too many exchanges:\n$p")
    assert(shuffles.forall(l => !l.contains("text")),
      s"document text must not shuffle:\n${shuffles.mkString("\n")}")
  }

  test("dsir: bucket model joins broadcast (4096-row tables by construction)") {
    val df = SparkEntry.queries("q102_dsir")(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    // the lambda table is <= 4096 rows BY CONSTRUCTION, so the scoring
    // probe must be a broadcast hash join even with auto-broadcast off
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p2 = plan(SparkEntry.queries("q102_dsir")(spark, sf))
      assert(p2.contains("BroadcastHashJoin"),
        s"lambda probe must stay broadcast with auto-broadcast off:\n$p2")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("fim split: map-only, fuses into the scan with zero exchanges") {
    val df = SparkEntry.queries("q107_fim_split")(spark, sf)
    val p = plan(df)
    // the transform is a pure projection: the only allowed exchange is
    // the final presentation orderBy's range partitioning
    assert(!p.contains("Exchange hashpartitioning"),
      s"fim split must not shuffle:\n$p")
    assert(!p.linesIterator.exists(l =>
        l.contains("Join") || l.contains("Aggregate")),
      s"fim split is one projection, no joins/aggregates:\n$p")
  }

  test("corpusDiff over bucketed snapshots: zero-exchange co-located diff") {
    import org.apache.spark.sql.functions._
    // the deployment shape: corpus snapshots are WRITTEN bucketed by
    // doc_id (Sinks.writeBucketed at release time), so the diff's
    // full-outer join needs no shuffle at all — release-over-release
    // diffing of a 100 TB corpus costs two co-located scans
    val d = graft.sources.Tables.documents(spark, sf)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      graft.sinks.Sinks.writeBucketed(
        d.select(col("doc_id"), md5(col("text")).as("old_md5")),
        "snap_old", "doc_id", 8)
      graft.sinks.Sinks.writeBucketed(
        d.filter(col("doc_id") % 3 =!= 0)
          .select(col("doc_id"), md5(col("text")).as("new_md5")),
        "snap_new", "doc_id", 8)
      val diff = spark.table("snap_old")
        .join(spark.table("snap_new"), Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("old_md5").isNull, "added")
            .when(col("new_md5").isNull, "removed")
            .when(col("old_md5") === col("new_md5"), "unchanged")
            .otherwise("changed").as("status"))
      val p = plan(diff)
      assert(!p.contains("Exchange"),
        s"bucketed snapshot diff must not shuffle:\n$p")
      val statuses = diff.groupBy(col("status")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(statuses.getOrElse("removed", 0L) > 0)
      assert(statuses.getOrElse("unchanged", 0L) > 0)
      assert(!statuses.contains("changed") && !statuses.contains("added"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS snap_old")
      spark.sql("DROP TABLE IF EXISTS snap_new")
    }
  }

  test("winnowing: fingerprinting is map-only, no Window, no exchange before the pair join") {
    import org.apache.spark.sql.functions._
    // the fingerprint selection is a pure per-doc function — the native
    // winnow_fp expression must fuse into the scan with zero exchanges
    val fp = graft.operators.Dedup.winnowingFingerprints(
      graft.sources.Tables.documents(spark, sf), col("doc_id"), col("text"),
      k = 16, w = 8)
    val pfp = plan(fp)
    assert(!pfp.contains("Window"), s"fingerprints must not use Window:\n$pfp")
    // the only allowed exchange is the bench-scale fanOut round-robin
    // (a designed no-op at cluster scale) — never a hash exchange,
    // which would mean keyed redistribution of text or gram rows
    assert(!pfp.contains("Exchange hashpartitioning"),
      s"fingerprints must not hash-shuffle:\n$pfp")
    assert(pfp.contains("winnow_fp"), s"native expression missing:\n$pfp")
    // the full q99 sweep: the ONLY shuffles are the pair join on the
    // 8-byte fingerprint and its pair aggregate — text never shuffles
    val df = SparkEntry.queries("q99_winnowing")(spark, sf)
    val p = plan(df)
    assert(!p.contains("Window"), s"q99: Window node in physical plan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    val hashEx = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.forall(l => l.contains("mh") ||
        (l.contains("doc_a") && l.contains("doc_b"))),
      s"q99: exchange carrying more than fingerprints/pair keys:\n$p")
  }

  test("span corruption: render join keyed on doc_id, token arrays never double-shuffle") {
    val df = SparkEntry.queries("q108_span_corruption")(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    // spans explode off one projection; the render re-join is doc-keyed
    // (hash or broadcast) — count doc-sized exchanges, excluding the
    // presentation sort's range exchange
    val hashEx = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.size <= 3,
      s"span corruption should need at most spans+render+join exchanges:\n$p")
    // the full token array crosses at most once (into the render agg);
    // the span rows that re-join carry only scalars
    assert(hashEx.count(_.contains("ws")) <= 1,
      s"token arrays must not shuffle twice:\n${hashEx.mkString("\n")}")
  }

  test("incremental ingest: band join is keyed, argmax is a hash agg, never a window or cartesian") {
    val df = SparkEntry.queries("q112_incremental_ingest")(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"),
      s"best-match selection must be max_by, not a window rank:\n$p")
    // the candidate join is an equi-join on (band, bkey) — a sort-merge
    // or shuffled-hash join on those keys is fine, a nested loop is not
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("pq: codebook and distance table baked as literals; the ranking scan carries codes, not vectors") {
    val codes = SparkEntry.queries("q113_pq_codes")(spark, sf)
    val pc = plan(codes)
    assert(!pc.contains("Window"), pc)
    // the collected codebook is a literal argmin projection — no join,
    // no re-aggregation (optimization r17 batch 3)
    assert(!pc.contains("Join"), pc)
    assert(pc.contains("array_min(array(struct"),
      s"literal codebook argmin missing:\n$pc")
    val adc = SparkEntry.queries("q114_pq_adc_topk")(spark, sf)
    adc.collect() // finalize AQE
    val pa = plan(adc)
    assert(!pa.contains("Window"), pa)
    assert(!pa.contains("CartesianProduct"), pa)
    // after the code assignment, no exchange carries a sub-vector:
    // the adc ranking shuffles (query_id, vec_id, code/adc) scalars
    val ex = pa.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(ex.forall(l => !l.contains("sv#") && !l.contains("qv#")),
      s"sub-vectors must not ride the ranking exchanges:\n${ex.mkString("\n")}")
  }

  test("containment pairs: inverted-index equi-join, text never in an exchange") {
    val df = SparkEntry.queries("q115_containment")(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    val ex = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(ex.forall(l => !l.contains("doc_text") && !l.contains("text#")),
      s"document text must not shuffle:\n${ex.mkString("\n")}")
  }

  test("counting detectors partial-aggregate map-side before their exchange") {
    // hardLimit / distinctCardinality ride one hash aggregate on
    // (window, key); the 100 TB guarantee is the map-side combine —
    // each task ships one row per (window, key), never raw events.
    // In the executedPlan string the partial aggregate renders as a
    // partial_* function in a HashAggregate BELOW the exchange.
    val pHard = plan(SparkEntry.queries("q02_hard_limit")(spark, sf))
    assert(pHard.contains("partial_count"),
      s"hardLimit must partially aggregate before shuffling:\n$pHard")
    assert(pHard.contains("Exchange hashpartitioning"), pHard)
    // the partial agg must sit BELOW (after, in the rendered string)
    // the final agg's exchange: events never cross unreduced
    val hardLines = pHard.linesIterator.toSeq
    val exIdx = hardLines.indexWhere(_.contains("Exchange hashpartitioning"))
    val partIdx = hardLines.indexWhere(_.contains("partial_count"))
    assert(exIdx >= 0 && partIdx > exIdx,
      s"partial aggregate must feed the exchange (map-side):\n$pHard")
    val pCard = plan(SparkEntry.queries("q07_distinct_types")(spark, sf))
    assert(pCard.contains("partial_count"),
      s"distinctCardinality must partially aggregate map-side:\n$pCard")
  }

  test("key-skew cards: counts partial-aggregate map-side, the top-k " +
      "is a bounded aggregator (no rank window over the counts frame)") {
    // the cards' own skew-immunity claim (SCALING.md round-15: both
    // get FASTER on the hot corpus): the per-key counts combine
    // before their exchange, and the head ranking rides the bounded
    // TopKAggregator — a row_number window here would re-shuffle and
    // sort the whole |keys| frame to keep 10 rows
    for (q <- Seq("q166_key_skew_card", "q168_key_skew_windows")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(p.contains("partial_count"),
        s"$q must partially aggregate the per-key counts:\n$p")
      val lines = p.linesIterator.toSeq
      val exIdx = lines.indexWhere(_.contains("Exchange hashpartitioning"))
      val partIdx = lines.indexWhere(_.contains("partial_count"))
      assert(exIdx >= 0 && partIdx > exIdx,
        s"$q: counts must combine BEFORE the exchange:\n$p")
      // the only Window allowed is the integer-histogram quantile
      // kernel's cumulative sum (over the counts HISTOGRAM, bounded
      // by distinct load values) — no rank/row_number anywhere
      assert(!p.contains("row_number"),
        s"$q must not rank the counts frame with a window:\n$p")
    }
  }
}
