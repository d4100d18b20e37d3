package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Heuristics
import graft.streaming.Streaming

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def ts(s: Long) = new Timestamp(s * 1000)

  test("kmvCardinalityStream: incrementally merged sketch state is " +
      "bit-identical to the batch kmvDistinct over the same events, " +
      "regardless of micro-batching") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val t0 = 1700000000L // window-aligned epoch seconds
    // key 'big': 300 distinct values split across two micro-batches
    // WITH overlap (the state merge must dedup); 'small': 4 distinct
    val batch1 = (0 until 200).map(i => (t0 + i % 60, "big", s"u$i")) ++
      (0 until 4).map(i => (t0 + i, "small", s"s$i"))
    val batch2 = (150 until 300).map(i => (t0 + i % 60, "big", s"u$i")) ++
      (0 until 4).map(i => (t0 + i, "small", s"s$i")) // pure replays
    val pusher = Seq((t0 + 3600, "small", "s0")) // closes the window
    val in = MemoryStream[(Long, String, String)]
    val q = Streaming.kmvCardinalityStream(
        in.toDS().select(timestamp_seconds(col("_1")).as("ts"),
          col("_2").as("k"), col("_3").as("v")),
        "ts", col("k"), col("v"), "10 minutes", "30 seconds", k = 8)
      .writeStream.format("memory").queryName("kmvcard")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(batch1: _*); q.processAllAvailable()
      in.addData(batch2: _*); q.processAllAvailable()
      in.addData(pusher: _*); q.processAllAvailable()
      // only the events' 10-minute window finalizes (the pusher's own
      // window stays open), so the table holds exactly that window
      val streamed = spark.table("kmvcard")
        .filter(col("window_start_ms") === (t0 / 600) * 600 * 1000)
        .select(col("key"), col("n_kept"), col("est_distinct"))
        .as[(String, Long, Long)].collect().toSet
      // batch twin over the SAME window's events (union of batches,
      // replays included — the sketch is a pure function of the set)
      val batchRows = (batch1 ++ batch2)
        .toDF("t", "k", "v")
      val batch = graft.operators.Heuristics.kmvDistinct(
          batchRows, col("k"), col("v"), k = 8)
        .select(col("key"), col("n_kept"), col("est_distinct"))
        .as[(String, Long, Long)].collect().toSet
      assert(streamed == batch, s"streamed $streamed vs batch $batch")
      // shape sanity: small is exact below k; big runs the estimator
      assert(streamed.exists(r => r._1 == "small" && r._2 == 4L &&
        r._3 == 4L))
      assert(streamed.exists(r => r._1 == "big" && r._2 == 8L))
    } finally q.stop()
  }

  test("hashReservoirStream: the standing per-(window, stratum) exact-k " +
      "draw is bit-identical to the batch hashReservoir on finalized " +
      "windows, across overlapping micro-batches with replays") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val t0 = 1700000000L // window-aligned epoch seconds
    // stratum 'big': 120 ids split across two micro-batches WITH
    // overlap (the bounded state must dedup replays); 'small': 3 ids
    // (below k — the draw keeps all, exactly once)
    val batch1 = (0 until 80).map(i => (t0 + i % 60, "big", i.toLong)) ++
      (0 until 3).map(i => (t0 + i, "small", (500 + i).toLong))
    val batch2 = (60 until 120).map(i => (t0 + i % 60, "big", i.toLong)) ++
      (0 until 3).map(i => (t0 + i, "small", (500 + i).toLong)) // replays
    val pusher = Seq((t0 + 3600, "small", 999L)) // closes the window
    val in = MemoryStream[(Long, String, Long)]
    val q = Streaming.hashReservoirStream(
        in.toDS().select(timestamp_seconds(col("_1")).as("ts"),
          col("_2").as("s"), col("_3").as("i")),
        "ts", col("s"), col("i"), "10 minutes", "30 seconds", k = 8)
      .writeStream.format("memory").queryName("hrstream")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(batch1: _*); q.processAllAvailable()
      in.addData(batch2: _*); q.processAllAvailable()
      in.addData(pusher: _*); q.processAllAvailable()
      val streamed = spark.table("hrstream")
        .filter(col("window_start_ms") === (t0 / 600) * 600 * 1000)
        .select(col("stratum"), col("rank"), col("id"))
        .as[(String, Long, Long)].collect().toSet
      // batch twin over the same window's rows, replays included —
      // the draw is a pure function of the id SET
      val batch = graft.operators.Sampling.hashReservoir(
          (batch1 ++ batch2).toDF("t", "s", "i"), col("s"), col("i"),
          k = 8)
        .as[(String, Long, Long)].collect().toSet
      assert(streamed == batch, s"streamed $streamed vs batch $batch")
      // exact-k on the big stratum; all 3 on the small one, once each
      assert(streamed.count(_._1 == "big") == 8)
      assert(streamed.count(_._1 == "small") == 3)
      assert(streamed.filter(_._1 == "small").map(_._3) ==
        Set(500L, 501L, 502L))
    } finally q.stop()
  }

  test("hashReservoirStream lenient mode: an invalid id is dropped " +
      "and counted instead of poisoning the query — the strict " +
      "default raises (documented poison pill), lenient completes " +
      "with the draw over the valid ids and surfaces the violation " +
      "count as an observed metric") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val t0 = 1700000000L
    val good = (0 until 20).map(i => (t0 + i, "s", i.toString))
    val bad = Seq((t0 + 25, "s", "not-a-number"))
    val pusher = Seq((t0 + 3600, "s", "999"))
    def run(lenient: Boolean, name: String) = {
      val in = MemoryStream[(Long, String, String)]
      val q = Streaming.hashReservoirStream(
          in.toDS().select(timestamp_seconds(col("_1")).as("ts"),
            col("_2").as("s"), col("_3").as("i")),
          "ts", col("s"), col("i"), "10 minutes", "30 seconds", k = 8,
          lenient = lenient)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      (in, q)
    }
    // strict: the documented poison pill — the micro-batch fails loud
    val (inS, qS) = run(lenient = false, "hrstrict")
    try {
      inS.addData(good ++ bad: _*)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        qS.processAllAvailable()
      }
      assert(e.getMessage.contains("hashReservoir") ||
        Option(e.getCause).exists(_.getMessage.contains("hashReservoir")),
        s"strict mode must raise the contract error: ${e.getMessage}")
    } finally qS.stop()
    // lenient: completes, draw over the VALID ids only, violation
    // visible per micro-batch through Dataset.observe
    val (inL, qL) = run(lenient = true, "hrlenient")
    try {
      inL.addData(good ++ bad: _*); qL.processAllAvailable()
      inL.addData(pusher: _*); qL.processAllAvailable()
      val streamed = spark.table("hrlenient")
        .filter(col("window_start_ms") === (t0 / 600) * 600 * 1000)
        .select(col("stratum"), col("rank"), col("id"))
        .as[(String, Long, Long)].collect().toSet
      val batch = graft.operators.Sampling.hashReservoir(
          good.toDF("t", "s", "i"), col("s"), col("i"), k = 8)
        .as[(String, Long, Long)].collect().toSet
      assert(streamed == batch,
        s"lenient draw must cover exactly the valid ids: $streamed vs $batch")
      val violations = qL.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("reservoir_contract")))
        .map(_.getAs[Long]("reservoir_id_violations")).sum
      assert(violations == 1,
        s"the dropped id must be observable: counted $violations")
    } finally qL.stop()
  }

  test("langIdStream: finalized window language-mix counts equal the " +
      "batch twin over the same documents, across micro-batches; " +
      "gramless docs are excluded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalysis
    // train a tiny model from two synthetic languages
    val seed = Seq(
      ("aa", "the cat sat on the mat the cat the rat"),
      ("bb", "zum zug zieht zwei zuge zum zug und zug")).toDF("lang", "text")
    val model = TextAnalysis.langIdModel(
      TextAnalysis.langIdProfiles(seed, col("lang"), col("text"), m = 8))
    val t0 = 1700000000L
    val batch1 = Seq(
      (t0 + 10, "the cat and the mat"),
      (t0 + 20, "zum zug zwei zuge"),
      (t0 + 30, "the rat sat"),
      (t0 + 40, "12345 !!!")) // gramless -> excluded
    val batch2 = Seq(
      (t0 + 50, "zug und zug zieht"),
      (t0 + 70, "the cat the cat"))
    val pusher = Seq((t0 + 3600, "the end"))
    val in = MemoryStream[(Long, String)]
    val q = Streaming.langIdStream(
        in.toDS().select(timestamp_seconds(col("_1")).as("ts"),
          col("_2").as("text")),
        "ts", col("text"), model, penalty = 8, d = 6,
        "10 minutes", "30 seconds")
      .writeStream.format("memory").queryName("langmix")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(batch1: _*); q.processAllAvailable()
      in.addData(batch2: _*); q.processAllAvailable()
      in.addData(pusher: _*); q.processAllAvailable()
      val streamed = spark.table("langmix")
        .filter(col("window_start_ms") === (t0 / 600) * 600 * 1000)
        .select(col("pred_lang"), col("n_docs"))
        .as[(String, Long)].collect().toSet
      // batch twin: the declarative classifier over the same docs
      // (ids synthesized per row — classification ignores them)
      val docs = (batch1 ++ batch2).zipWithIndex
        .map { case ((_, t), i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val batchTwin = TextAnalysis.langId(docs, col("doc_id"),
          col("text"),
          TextAnalysis.langIdProfiles(seed, col("lang"), col("text"),
            m = 8),
          penalty = 8, d = 6)
        .groupBy(col("pred_lang")).agg(count(lit(1)).as("n"))
        .as[(String, Long)].collect().toSet
      assert(streamed == batchTwin,
        s"streamed $streamed vs batch $batchTwin")
      // the mix itself: 3 aa docs + 2 bb docs, the gramless one gone
      assert(streamed == Set(("aa", 3L), ("bb", 2L)), streamed.toString)
    } finally q.stop()
  }

  test("langMixDriftStream: finalized-window drift alerts equal the " +
      "batch twin (the SAME langMixDrift over the same counts) even " +
      "when the predecessor window finalized in an earlier " +
      "micro-batch; each window alerts exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalysis
    val seed = Seq(
      ("aa", "the cat sat on the mat the cat the rat"),
      ("bb", "zum zug zieht zwei zuge zum zug und zug")).toDF("lang", "text")
    val model = TextAnalysis.langIdModel(
      TextAnalysis.langIdProfiles(seed, col("lang"), col("text"), m = 8))
    val aa = "the cat and the mat"; val bb = "zum zug zwei zuge"
    val t0 = 1700000000L; val wSec = 600L
    // w0: aa=4 bb=2; w1: aa=2 (-50% warn), bb=6 (+200% critical);
    // w2: aa=2 (0% silent), bb=2 (-66% warn)
    def w(n: Int, txts: Seq[String]) =
      txts.zipWithIndex.map { case (t, i) => (t0 + n * wSec + i, t) }
    val w0 = w(0, Seq.fill(4)(aa) ++ Seq.fill(2)(bb))
    val w1 = w(1, Seq.fill(2)(aa) ++ Seq.fill(6)(bb))
    val w2 = w(2, Seq.fill(2)(aa) ++ Seq.fill(2)(bb))
    val far = Seq((t0 + 7200, aa)) // finalizes everything before it
    val collected = scala.collection.mutable.ArrayBuffer[
      (Long, String, Long, Long, Long, String)]()
    val in = MemoryStream[(Long, String)]
    val q = Streaming.langMixDriftStream(
        in.toDS().select(timestamp_seconds(col("_1")).as("ts"),
          col("_2").as("text")),
        "ts", col("text"), model, penalty = 8, d = 6,
        windowMs = wSec * 1000, watermarkDelay = "30 seconds",
        warnPct = 20, critPct = 100, minCount = 2) { alerts =>
      collected ++= alerts.collect().map(r => (r.getLong(0),
        r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getString(5)))
    }.start()
    try {
      // w0 finalizes in a DIFFERENT batch than w1 — the carry must
      // supply w1's predecessor counts
      in.addData(w0: _*); q.processAllAvailable()
      in.addData(w1: _*); q.processAllAvailable() // watermark closes w0
      in.addData(w2: _*); q.processAllAvailable() // closes w1
      in.addData(far: _*); q.processAllAvailable() // closes w2
      // t0 is NOT 600-aligned: window() floors to the epoch grid, so
      // w(n)'s docs (offsets < 10 s) land in the window starting at
      // floor(t0/600)*600 + n*600
      val ws = (n: Int) => (t0 / wSec * wSec + n * wSec) * 1000
      val want = Set(
        (ws(1), "aa", 4L, 2L, 50L, "warn"),
        (ws(1), "bb", 2L, 6L, 200L, "critical"),
        (ws(2), "bb", 6L, 2L, 66L, "warn"))
      assert(collected.toSet == want,
        s"streamed ${collected.toSet} vs want $want")
      assert(collected.size == collected.toSet.size,
        "each window must alert exactly once")
      // batch twin: the declarative classifier + the same drift body
      val docs = (w0 ++ w1 ++ w2).zipWithIndex
        .map { case ((t, txt), i) => (i.toLong, t, txt) }
        .toDF("doc_id", "t", "text")
      val counts = TextAnalysis.langId(docs, col("doc_id"), col("text"),
          TextAnalysis.langIdProfiles(seed, col("lang"), col("text"),
            m = 8), penalty = 8, d = 6)
        .join(docs.select(col("doc_id"), col("t")), Seq("doc_id"))
        .withColumn("window_start_ms", expr("t DIV 600 * 600 * 1000"))
        .groupBy(col("window_start_ms"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
      val batchTwin = TextAnalysis.langMixDrift(counts,
          windowMs = wSec * 1000, warnPct = 20, critPct = 100,
          minCount = 2)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getString(5))).toSet
      assert(collected.toSet == batchTwin,
        s"streamed ${collected.toSet} vs batch twin $batchTwin")
    } finally q.stop()
  }

  test("keySkewStream: finalized-window skew cards equal the batch " +
      "twin over the same events, across micro-batches; the hot " +
      "window's card reads the flood") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.operators.Skew
    val t0 = 1700000000L; val wSec = 600L
    // w0: key 0 floods (12 of 14 rows); w1: three balanced keys
    val w0 = (1 to 12).map(i => (t0 + i, 0L)) ++
      Seq((t0 + 20, 5L), (t0 + 21, 9L))
    val w1 = (1 to 3).map(i => (t0 + wSec + i, i.toLong))
    val far = Seq((t0 + 7200, 99L)) // finalizes everything before it
    val collected =
      scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    val in = MemoryStream[(Long, Long)]
    val q = Streaming.keySkewStream(
        in.toDS().select(timestamp_seconds(col("_1")).as("ts"),
          col("_2").as("user_id")),
        "ts", col("user_id"), "10 minutes", "30 seconds") { cards =>
      collected ++= cards.collect()
    }.start()
    try {
      // w0 and w1 finalize in DIFFERENT micro-batches
      in.addData(w0: _*); q.processAllAvailable()
      in.addData(w1: _*); q.processAllAvailable() // closes w0
      in.addData(far: _*); q.processAllAvailable() // closes w1
      val ws = (n: Int) => (t0 / wSec * wSec + n * wSec) * 1000
      // the hot window's card, hand-computed: loads [12,1,1]
      val byWs = collected.map(r => r.getLong(0) -> r).toMap
      assert(byWs.keySet == Set(ws(0), ws(1)),
        s"exactly the two closed windows must card: ${byWs.keySet}")
      val hot = byWs(ws(0))
      assert(hot.getAs[Long]("n_rows") == 14L)
      assert(hot.getAs[Long]("n_keys") == 3L)
      assert(hot.getAs[Long]("max_count") == 12L)
      assert(hot.getAs[Long]("hot_key") == 0L)
      assert(hot.getAs[Long]("hot_share_ppm") == 857142L)
      // fair share = 14 DIV 3 = 4; fold = 12 * 1000 DIV 4
      assert(hot.getAs[Long]("hot_fold_x1000") == 3000L)
      assert(hot.getAs[Long]("p50_count") == 1L)
      // batch twin: keySkewCardBy over the same lines, with integer
      // window math (epoch-aligned 600-s grid, same as window())
      val twin = Skew.keySkewCardBy(
          (w0 ++ w1).toDF("sec", "user_id")
            .select(expr("(sec DIV 600) * 600000")
              .as("window_start_ms"), col("user_id")),
          col("window_start_ms"), col("user_id"))
        .withColumnRenamed("stratum", "window_start_ms")
        .collect().map(_.toSeq).toSet
      assert(collected.map(_.toSeq).toSet == twin,
        s"streamed ${collected.map(_.toSeq).toSet} vs batch $twin")
    } finally q.stop()
  }

  test("keySkewStream: a string key (the NAT-flood source-IP type) " +
      "hits the batch cards' loud contract — raise with the xxhash64 " +
      "remediation, never a silent null-merge onto the sentinel; the " +
      "hashed key is the working path") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val t0 = 1700000000L
    val rows = Seq((t0 + 1, "1.2.3.4"), (t0 + 2, "1.2.3.4"),
      (t0 + 3, "5.6.7.8"), (t0 + 7200, "9.9.9.9"))
    // raw string key: the groupBy keeps it raw, so the epilogue's
    // checked cast fires (pre-casting in the stream would null it
    // BEFORE the check and fabricate one giant sentinel hot key)
    val in = MemoryStream[(Long, String)]
    val q = Streaming.keySkewStream(
        in.toDS().select(timestamp_seconds(col("_1")).as("ts"),
          col("_2").as("src")),
        "ts", col("src"), "10 minutes", "30 seconds") { cards =>
      cards.collect(); ()
    }.start()
    val ex = intercept[Exception] {
      try { in.addData(rows: _*); q.processAllAvailable() }
      finally q.stop()
    }
    val chain = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(chain.exists(_.contains("xxhash64")), s"unexpected: $chain")
    // the documented path: hash the identity, card the hashes
    val collected =
      scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    val in2 = MemoryStream[(Long, String)]
    val q2 = Streaming.keySkewStream(
        in2.toDS().select(timestamp_seconds(col("_1")).as("ts"),
          xxhash64(col("_2")).as("src")),
        "ts", col("src"), "10 minutes", "30 seconds") { cards =>
      collected ++= cards.collect()
    }.start()
    try { in2.addData(rows: _*); q2.processAllAvailable() }
    finally q2.stop()
    assert(collected.nonEmpty, "the closed window must card")
    assert(collected.head.getAs[Long]("n_rows") == 3L)
    assert(collected.head.getAs[Long]("n_keys") == 2L)
    assert(collected.head.getAs[Long]("max_count") == 2L)
  }

  test("streaming suppress: first emits, later suppressed, re-emits after expiry across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    SparkTestSession.withRocksDb(spark) {
      val in = MemoryStream[Streaming.Keyed]
      val q = Streaming.suppress(in.toDS(), expirySeconds = 600)
        .writeStream.format("memory").queryName("supp")
        .outputMode(OutputMode.Append()).start()
      try {
        in.addData(Streaming.Keyed("a", 0L), Streaming.Keyed("a", 10000000L),
          Streaming.Keyed("b", 5000000L))
        q.processAllAvailable()
        // batch 2: a at exactly 600s (still suppressed — the reference's
        // isExpired is strict >) and 601s (re-emit)
        in.addData(Streaming.Keyed("a", 600000000L), Streaming.Keyed("a", 601000000L))
        q.processAllAvailable()
        val got = spark.table("supp").as[(String, Long)].collect().toSet
        assert(got == Set(("a", 0L), ("b", 5000000L), ("a", 601000000L)))
      } finally q.stop()
    }
  }

  test("suppress state TTL: an idle key's state expires, so its next element re-emits inside the expiry window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    SparkTestSession.withRocksDb(spark) {
      val in = MemoryStream[Streaming.Keyed]
      // a TTL puts the query on processing time, which keeps scheduling
      // micro-batches, so processAllAvailable never returns: poll the
      // sink against a deadline instead
      val q = Streaming.suppress(in.toDS(), expirySeconds = 600,
          stateTtlSeconds = 1)
        .writeStream.format("memory").queryName("supp_ttl")
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("200 milliseconds"))
        .outputMode(OutputMode.Append()).start()
      def awaitRows(n: Int): Set[(String, Long)] = {
        val deadline = System.nanoTime() + 60L * 1000000000L
        var got = Set.empty[(String, Long)]
        while (got.size < n && q.isActive && System.nanoTime() < deadline) {
          Thread.sleep(100)
          got = spark.table("supp_ttl").as[(String, Long)].collect().toSet
        }
        got
      }
      try {
        in.addData(Streaming.Keyed("a", 0L))
        assert(awaitRows(1) == Set(("a", 0L)))
        Thread.sleep(2500) // idle well past the 1 s TTL
        // 10 s after the last emit, far inside the 600 s expiry: only
        // the evicted state lets it through (without a TTL the suppress
        // spec above pins it as suppressed)
        in.addData(Streaming.Keyed("a", 10000000L))
        assert(awaitRows(2) == Set(("a", 0L), ("a", 10000000L)))
      } finally q.stop()
    }
  }

  test("assume-role correlation fires on element count, not watermark — and matches batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    SparkTestSession.withRocksDb(spark) {
      val in = MemoryStream[Streaming.CorrEvent]
      val q = Streaming.assumeRoleCorrelate(in.toDS(), gapSeconds = 120)
        .writeStream.format("memory").queryName("corr_tws")
        .outputMode(OutputMode.Append()).start()
      def rows() = spark.table("corr_tws")
        .as[(String, Long, String)].collect().toSet
      try {
        // batch 1: only the trusted half of e1 — nothing can fire
        in.addData(Streaming.CorrEvent("e1", 1000000L, "dkT", fixup = false,
          cross = true, user = "alice"))
        q.processAllAvailable()
        assert(rows().isEmpty, "half a pair must not fire")
        // batch 2: the trusting half arrives — the pair fires IN THIS
        // BATCH (element count 2), with no watermark on the query at all
        in.addData(Streaming.CorrEvent("e1", 3000000L, "dkF", fixup = true,
          cross = false, user = "ignored"))
        q.processAllAvailable()
        assert(rows() == Set(("e1", 3000L, "alice")), "second half must fire immediately")
        // batch 3: re-delivery of the trusting half (same dedupe key,
        // shifted ts) must neither re-fire nor shift the pairing
        in.addData(Streaming.CorrEvent("e1", 9000000L, "dkF", fixup = true,
          cross = false, user = "ignored"))
        q.processAllAvailable()
        assert(rows() == Set(("e1", 3000L, "alice")), "re-delivery must not re-fire")
        // batch 4: both halves of e2 in ONE batch (either order) fire
        // together; out-of-gap e3 never fires; non-cross trusted of e4
        // never pairs
        in.addData(
          Streaming.CorrEvent("e2", 10000000L, "t2", fixup = true,
            cross = false, user = "x"),
          Streaming.CorrEvent("e2", 9000000L, "d2", fixup = false,
            cross = true, user = "bob"),
          Streaming.CorrEvent("e3", 0L, "t3", fixup = true,
            cross = false, user = "x"),
          Streaming.CorrEvent("e3", 500000000L, "d3", fixup = false,
            cross = true, user = "carol"),
          Streaming.CorrEvent("e4", 0L, "t4", fixup = true,
            cross = false, user = "x"),
          Streaming.CorrEvent("e4", 1000000L, "d4", fixup = false,
            cross = false, user = "dave"))
        q.processAllAvailable()
        assert(rows() == Set(("e1", 3000L, "alice"), ("e2", 10000L, "bob")))
        // batch-equivalence: the batch operator on the same (in-order)
        // rows emits the same pair set
        val batchIn = Seq(
          ("e1", 1000000L, "dkT", false, true, "alice"),
          ("e1", 3000000L, "dkF", true, false, "ignored"),
          ("e2", 10000000L, "t2", true, false, "x"),
          ("e2", 9000000L, "d2", false, true, "bob"),
          ("e3", 0L, "t3", true, false, "x"),
          ("e3", 500000000L, "d3", false, true, "carol"),
          ("e4", 0L, "t4", true, false, "x"),
          ("e4", 1000000L, "d4", false, false, "dave"))
          .toDF("sid", "ts_us", "dk", "fixup", "cross", "user")
          .withColumn("ts", org.apache.spark.sql.functions
            .timestamp_micros(org.apache.spark.sql.functions.col("ts_us")))
        val batch = graft.operators.AuthState.assumeRoleCorrelate(batchIn,
          org.apache.spark.sql.functions.col("sid"),
          org.apache.spark.sql.functions.col("ts"),
          org.apache.spark.sql.functions.col("dk"),
          org.apache.spark.sql.functions.col("fixup"),
          org.apache.spark.sql.functions.col("cross"),
          org.apache.spark.sql.functions.col("user"), gapSeconds = 120)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
          .toSet
        assert(batch == rows(), "streaming early-fire set == batch set")
      } finally q.stop()
    }
  }

  test("stream-stream near-dup self-join finds close duplicates within the horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val docs = in.toDS().toDF("ts", "doc_id", "text")
    val q = Streaming.simhashNearDupStream(docs, "ts", col("doc_id"),
        col("text"), maxHamming = 3, horizon = "10 minutes",
        watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("nd")
      .outputMode(OutputMode.Append()).start()
    try {
      // NOTE: event times must sit strictly above the initial watermark
      // (epoch 0) — once a join carries a time-range condition, rows at
      // ts <= watermark are dropped as late before ever reaching state
      in.addData(
        (ts(1000), 1L, "the quick brown fox jumps over the dog"),
        (ts(1060), 2L, "the quick brown fox jumps over the dog"),
        (ts(1120), 3L, "completely different text about spark shuffles and joins"))
      q.processAllAvailable()
      in.addData((ts(9200), 9L, "late watermark advancer"))
      q.processAllAvailable()
      val got = spark.table("nd").as[(Long, Long, Long)].collect().toSet
      // identical docs 1 and 2 pair at hamming 0 (emitted once per
      // agreeing band and orientation, collapsed by the Set); doc 3
      // pairs with nothing
      assert(got == Set((1L, 2L, 0L)))
    } finally q.stop()
  }

  test("streaming near-dup plan hashes via the native expression, not a ScalaUDF") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val df = Streaming.simhashNearDupStream(in.toDS().toDF("ts", "doc_id", "text"),
      "ts", col("doc_id"), col("text"), maxHamming = 3,
      horizon = "10 minutes", watermarkDelay = "0 seconds")
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("simhash32"),
      s"native simhash32 missing from plan:\n$analyzed")
    assert(!analyzed.contains("UDF"),
      s"ScalaUDF leaked back into the streaming near-dup plan:\n$analyzed")
  }

  test("native simhash32 expression equals the row-local kernel, null-safe") {
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnBridge
    val hashCol = ColumnBridge.column(
      graft.functions.SimHashExpr(ColumnBridge.expression(col("text"))))
    val got = Seq((1L, "the quick brown fox"), (2L, null))
      .toDF("id", "text").select(col("id"), hashCol.as("h"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got(1L) == Some(graft.util.SimHash.of("the quick brown fox")))
    assert(got(2L) == None) // null text -> null hash, not an NPE
  }

  test("streaming simhash matches the batch aggregate on the same documents") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .limit(100)
    val batch = graft.operators.Dedup.simhash(docs, col("doc_id"), col("text"))
      .as[(Long, Long)].collect().toMap
    val pure = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
      .map { case (id, t) => id -> graft.util.SimHash.of(t) }.toMap
    assert(pure == batch)
  }

  test("windowed hard limit with watermark emits exceeded windows (update mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val df = in.toDS().toDF("ts", "k")
    val q = Heuristics.hardLimit(df.withWatermark("ts", "0 seconds"),
        col("ts"), col("k"), "1 minute", limit = 2)
      .writeStream.format("memory").queryName("hl")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData((ts(1), "x"), (ts(2), "x"), (ts(3), "x"), (ts(5), "y"))
      q.processAllAvailable()
      val got = spark.table("hl")
        .select("key", "n").as[(String, Long)].collect().toSet
      assert(got == Set(("x", 3L)))
    } finally q.stop()
  }

  test("suppressCount re-emits inside the window when the count changes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    SparkTestSession.withRocksDb(spark) {
      val in = MemoryStream[Streaming.KeyedCount]
      val q = Streaming.suppressCount(in.toDS(), expirySeconds = 600)
        .writeStream.format("memory").queryName("suppc")
        .outputMode(OutputMode.Append()).start()
      try {
        in.addData(
          Streaming.KeyedCount("a", 0L, 5),        // emits (first)
          Streaming.KeyedCount("a", 10000000L, 5), // suppressed (count unchanged)
          Streaming.KeyedCount("a", 20000000L, 9)) // re-emits (count changed)
        q.processAllAvailable()
        in.addData(Streaming.KeyedCount("a", 30000000L, 9)) // suppressed
        q.processAllAvailable()
        val got = spark.table("suppc").as[(String, Long, Long)].collect().toSet
        assert(got == Set(("a", 0L, 5L), ("a", 20000000L, 9L)))
      } finally q.stop()
    }
  }

  test("suppressCount re-emits on count DECREASE (ref emit-on-change, 10→3→5 all emit)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    implicit val sqlCtx = spark.sqlContext
    SparkTestSession.withRocksDb(spark) {
      // the reference's shouldSuppress re-emits whenever the new count
      // DIFFERS from the stored one (AlertSuppressorCount.java:31) and
      // overwrites state on every emission — so counts 10 → 3 → 5
      // inside one expiry window must emit all three (a max-ratchet
      // would emit only the 10)
      val evs = Seq(
        Streaming.KeyedCount("a", 0L, 10),
        Streaming.KeyedCount("a", 10000000L, 3),
        Streaming.KeyedCount("a", 20000000L, 5))
      val in = MemoryStream[Streaming.KeyedCount]
      val q = Streaming.suppressCount(in.toDS(), expirySeconds = 600)
        .writeStream.format("memory").queryName("suppc_dec")
        .outputMode(OutputMode.Append()).start()
      try {
        in.addData(evs.head); q.processAllAvailable()
        in.addData(evs.tail: _*); q.processAllAvailable()
        val streamed = spark.table("suppc_dec")
          .as[(String, Long, Long)].collect().toSet
        assert(streamed == Set(("a", 0L, 10L), ("a", 10000000L, 3L),
          ("a", 20000000L, 5L)))
        val batch = graft.operators.Stateful.suppressCount(evs.toDF(),
            timestamp_micros(col("tsUs")), col("key"), col("count"),
            expirySeconds = 600)
          .as[(String, Long, Long)].collect().toSet
        assert(batch == streamed)
      } finally q.stop()
    }
  }

  test("suppressCount streaming form makes the batch twin's decisions (q141 semantics)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    implicit val sqlCtx = spark.sqlContext
    SparkTestSession.withRocksDb(spark) {
      // three keys, varying counts, expiry crossing several gaps — and
      // delivery split across micro-batches (per-key ts order held, as
      // the windowed-count producer guarantees)
      val evs = for {
        (k, ki) <- Seq("a", "b", "c").zipWithIndex
        i <- 0 until 24
      } yield Streaming.KeyedCount(k, i * 100000000L,
        ((i * (ki + 3)) % 7 + 1).toLong)
      val in = MemoryStream[Streaming.KeyedCount]
      val q = Streaming.suppressCount(in.toDS(), expirySeconds = 250)
        .writeStream.format("memory").queryName("suppc_eq")
        .outputMode(OutputMode.Append()).start()
      try {
        val (b1, b2) = evs.splitAt(30)
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        val streamed = spark.table("suppc_eq")
          .as[(String, Long, Long)].collect().toSet
        val batch = graft.operators.Stateful.suppressCount(evs.toDF(),
            timestamp_micros(col("tsUs")), col("key"), col("count"),
            expirySeconds = 250)
          .as[(String, Long, Long)].collect().toSet
        assert(batch.nonEmpty && streamed == batch)
        // and emit-on-change actually fired somewhere: some emission
        // happened strictly inside an expiry window
        val sorted = batch.toSeq.sorted
        val insideWindow = sorted.sliding(2).exists {
          case Seq((k1, t1, _), (k2, t2, _)) =>
            k1 == k2 && t2 - t1 < 250000000L
          case _ => false
        }
        assert(insideWindow, "fixture never exercised emit-on-change")
      } finally q.stop()
    }
  }

  test("suppressCount ties on (key, ts) replay deterministically: smaller count first") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    // equal-ts events MUST replay in one order (count ascending) or
    // the emission set itself becomes run-dependent: replaying (3
    // then 5) leaves 5 in state so the later 5 is suppressed, while
    // (5 then 3) would leave 3 in state and the later 5 would re-emit
    val evs = Seq(("a", 0L, 5L), ("a", 0L, 3L), ("a", 1000L, 5L))
      .toDF("key", "tsUs", "count")
    val got = graft.operators.Stateful.suppressCount(evs,
        timestamp_micros(col("tsUs")), col("key"), col("count"),
        expirySeconds = 600)
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(("a", 0L, 3L), ("a", 0L, 5L)),
      s"tie order must be count-ascending: $got")
  }

  test("cfgTickStream is a streaming frame carrying the config literal") {
    val df = Streaming.cfgTickStream(spark, 60, """{"heuristic":"hard_limit"}""")
    assert(df.isStreaming)
    assert(df.columns.toSeq == Seq("timestamp", "payload_type", "value"))
  }

  test("config tick self-documents enabled heuristics from live config") {
    val payload = graft.pipelines.HttpRequestPipeline.configTickPayload(
      graft.pipelines.HttpRequestPipeline.Config(errorMaxCount = 30),
      options = Map("monitoredResourceIndicator" -> "test",
        "useEventTimestamp" -> "true"))
    // the exact documentation string the reference's cfgtick test
    // asserts (ref t/.../TestErrorRate1.java runAssertions:
    // heuristic_ErrorRateAnalysis)
    assert(payload.contains(
      "\"heuristic_ErrorRateAnalysis\":\"Alert if a single source address " +
        "generates more than 30 4xx errors in a 1 minute window.\""))
    assert(payload.contains("\"configuration_tick\":\"true\""))
    assert(payload.contains("\"monitoredResourceIndicator\":\"test\""))
    // deterministic: sorted keys, byte-stable across calls
    assert(payload == graft.pipelines.HttpRequestPipeline.configTickPayload(
      graft.pipelines.HttpRequestPipeline.Config(errorMaxCount = 30),
      options = Map("monitoredResourceIndicator" -> "test",
        "useEventTimestamp" -> "true")))
    // and it feeds the tick stream as the value literal
    val df = Streaming.cfgTickStream(spark, 60, payload)
    assert(df.isStreaming)
  }

  test("streaming geo-velocity: impossible travel across micro-batches, state advances") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    SparkTestSession.withRocksDb(spark) {
      val in = MemoryStream[Streaming.GeoLogin]
      val q = Streaming.geoVelocity(in.toDS(), maxKmh = 300.0)
        .writeStream.format("memory").queryName("geovel")
        .outputMode(OutputMode.Append()).start()
      try {
        // batch 1: alice logs in from London
        in.addData(Streaming.GeoLogin("alice", 0L, 51.5074, -0.1278))
        q.processAllAvailable()
        // batch 2: alice from Tokyo an hour later (state carried across
        // batches) -> ~9600 km/h alert; bob's first login never alerts
        in.addData(
          Streaming.GeoLogin("alice", 3600000000L, 35.68, 139.69),
          Streaming.GeoLogin("bob", 3600000000L, 35.68, 139.69))
        q.processAllAvailable()
        // batch 3: alice stays in Tokyo -> no alert
        in.addData(Streaming.GeoLogin("alice", 7200000000L, 35.69, 139.70))
        q.processAllAvailable()
        val got = spark.table("geovel").as[(String, Long, Long)].collect()
        assert(got.length == 1)
        assert(got(0)._1 == "alice" && got(0)._2 == 3600000000L)
        assert(got(0)._3 > 5000)
        // agrees with the batch operator on the same data
        val batchGot = graft.operators.Stateful.geoVelocity(
          Seq(("alice", new Timestamp(0), 51.5074, -0.1278),
            ("alice", new Timestamp(3600000L), 35.68, 139.69),
            ("alice", new Timestamp(7200000L), 35.69, 139.70),
            ("bob", new Timestamp(3600000L), 35.68, 139.69))
            .toDF("k", "t", "lat", "lon"),
          col("t"), col("k"), col("lat"), col("lon"), 300.0).collect()
        assert(batchGot.length == 1)
        assert(batchGot(0).getAs[Long]("speed_kmh") == got(0)._3)
      } finally q.stop()
    }
  }

  test("streaming exact dedup: replays dropped across batches within watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val q = Streaming.dedupStream(in.toDS().toDF("ts", "text"), "ts",
        col("text"), "10 minutes")
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((ts(0), "doc-a"), (ts(1), "doc-a"), (ts(2), "doc-b"))
      q.processAllAvailable()
      in.addData((ts(3), "doc-a"), (ts(4), "doc-c")) // a replays across batches
      q.processAllAvailable()
      val got = spark.table("dedup").select("text").as[String].collect().sorted
      assert(got.toSeq == Seq("doc-a", "doc-b", "doc-c"))
    } finally q.stop()
  }

  test("streaming threshold: windows finalize whole, mean joined per batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double)]
    val q = Heuristics.windowedAgg(
        in.toDS().toDF("ts", "k").withWatermark("ts", "0 seconds"),
        col("ts"), "1 minute", Seq(col("k").as("key")))(count(lit(1)).as("n"))
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        buf ++= Heuristics.thresholdGate(modifier = 2.0)(b.toDF())
          .select("key", "n", "mean_n").as[(String, Long, Double)].collect()
        ()
      }.start()
    try {
      // window [0,60): x=9 events, y=1, z=2 -> mean 4; x >= 8 alerts
      in.addData((1 to 9).map(i => (ts(i), "x")) ++
        Seq((ts(20), "y"), (ts(30), "z"), (ts(31), "z")): _*)
      q.processAllAvailable()
      in.addData((ts(300), "w")) // watermark past the window -> finalize
      q.processAllAvailable()
      assert(buf.toSeq == Seq(("x", 9L, 4.0)))
    } finally q.stop()
  }

  test("streaming session_window agrees with batch analytic sessionization") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two sessions for a (gap > 30s between 10s and 100s), one for b
    val data = Seq((ts(0), "a"), (ts(10), "a"), (ts(100), "a"),
      (ts(5), "b"))
    val in = MemoryStream[(Timestamp, String)]
    val q = Streaming.sessionSummary(in.toDS().toDF("ts", "k"), "ts", col("k"),
        gap = "30 seconds", watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sesseq")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(data: _*)
      q.processAllAvailable()
      in.addData((ts(10000), "a")) // advance watermark to finalize all
      q.processAllAvailable()
      val streaming = spark.table("sesseq")
        .select("key", "n_events").as[(String, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      val batch = graft.operators.Sessionize.sessionSummary(
          data.toDF("t", "k"), col("t"), col("k"), gapSeconds = 30)
        .select(col("key"), col("n_events")).as[(String, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      assert(streaming("a") == batch("a") && streaming("a") == Seq(1L, 2L))
      assert(streaming("b") == batch("b"))
    } finally q.stop()
  }

  test("streaming session_window under a hot key: the hot key's " +
      "state partition serializes but the query completes bounded " +
      "and batch-identical — the measured bound behind SCALING.md's " +
      "streaming-skew row (the mitigation for bounded replays is the " +
      "sharded batch sessionizer inside foreachBatch)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000L
    val nKeys = 300
    val n = 120000
    // constant volume, variable imbalance — the ScaleGen skew-mode
    // discipline: hotPct percent of events land on key 0, the rest
    // round-robin; one event per second so each key's events chain
    // into ONE session at a 1-hour gap
    def mkRows(hotPct: Int): Seq[(Long, Long)] =
      (0 until n).map { i =>
        val key = if (i % 100 < hotPct) 0L else (i % nKeys).toLong + 1L
        (t0 + i, key)
      }
    def run(hotPct: Int, name: String): Double = {
      val in = MemoryStream[(Long, Long)]
      val q = Streaming.sessionSummary(
          in.toDS().select(timestamp_seconds(col("_1")).as("ts"),
            col("_2").as("user_id")),
          "ts", col("user_id"), "1 hour", "10 seconds")
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      val start = System.nanoTime()
      try {
        in.addData(mkRows(hotPct): _*)
        q.processAllAvailable()
        in.addData((t0 + 10L * n, 999999L)) // finalize everything
        q.processAllAvailable()
      } finally q.stop()
      (System.nanoTime() - start) / 1e9
    }
    run(0, "skewsess_warm") // discarded: pays streaming JIT/codegen
    val tBal = run(0, "skewsess_bal")
    val tHot = run(50, "skewsess_hot")
    // correctness under the flood: every event lands in exactly one
    // finalized session, the hot key's 60k-event timeline is ONE
    // session (events 2s apart, 1h gap), and the rows equal the
    // batch sessionizer's on the same lines
    val hot = spark.table("skewsess_hot")
      .filter(col("key") =!= 999999L)
    assert(hot.agg(sum(col("n_events"))).collect().head.getLong(0)
      == n.toLong)
    assert(hot.filter(col("key") === 0L).count() == 1L)
    assert(hot.filter(col("key") === 0L).collect().head
      .getAs[Long]("n_events") == n / 2L)
    // like-for-like end times: session_window.end is last event +
    // gap, the batch summary's session_end_ms is the last event
    val batchTwin = graft.operators.Sessionize.sessionSummary(
        mkRows(50).toDF("sec", "user_id")
          .select(timestamp_seconds(col("sec")).as("ts"),
            col("user_id")),
        col("ts"), col("user_id"), gapSeconds = 3600)
      .select(col("key"), col("n_events"), col("session_start_ms"),
        (col("session_end_ms") + 3600000L).as("session_end_ms"))
    assert(hot.select(col("key"), col("n_events"),
        col("session_start_ms"), col("session_end_ms"))
      .collect().map(_.toSeq).toSet ==
      batchTwin.collect().map(_.toSeq).toSet)
    // the measurement itself (copied into SCALING.md): the hot run
    // must stay within an order of magnitude of balanced — the state
    // partition serializes but never blows up
    info(f"streaming session_window, $n events, ${nKeys + 1} keys: " +
      f"balanced $tBal%.1f s vs 50%%-hot $tHot%.1f s " +
      f"(x${tHot / tBal}%.2f)")
    assert(tHot < tBal * 10,
      f"hot-key streaming session blow-up: $tHot%.1f s vs $tBal%.1f s")
  }

  test("session_window append emits finalized sessions after watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val df = in.toDS().toDF("ts", "k")
    val q = Streaming.sessionSummary(df, "ts", col("k"),
        gap = "30 seconds", watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append()).start()
    try {
      // one session for k=a (events 0s,10s), then silence
      in.addData((ts(0), "a"), (ts(10), "a"))
      q.processAllAvailable()
      // advance watermark far past the session gap to finalize it
      in.addData((ts(1000), "a"))
      q.processAllAvailable()
      in.addData((ts(2000), "a")) // push watermark again
      q.processAllAvailable()
      val got = spark.table("sess")
        .select("key", "n_events", "session_start_ms", "session_end_ms")
        .as[(String, Long, Long, Long)].collect().toSet
      // first session: 2 events, [0s, 10s+30s gap)
      assert(got.contains(("a", 2L, 0L, 40000L)))
    } finally q.stop()
  }

  /** Shared fixture for the sequence-abuse twins: alice's first at
    * t=0 pairs her second at t=30m (inside the 1h delta, ACROSS a
    * micro-batch boundary); a later first at t=3h supersedes, so her
    * second at t=5h (2h after it) is outside; bob has a second with
    * no first at all. Expected violations: alice@30m only. */
  private val seqEvents: Seq[Seq[Streaming.SeqEvent]] = Seq(
    Seq(Streaming.SeqEvent("alice", 0L, 1L, isFirst = true, isSecond = false),
      Streaming.SeqEvent("bob", 0L, 2L, isFirst = false, isSecond = true)),
    Seq(Streaming.SeqEvent("alice", 1800000000L, 3L,
        isFirst = false, isSecond = true),
      Streaming.SeqEvent("alice", 10800000000L, 4L,
        isFirst = true, isSecond = false)),
    Seq(Streaming.SeqEvent("alice", 18000000000L, 5L,
      isFirst = false, isSecond = true)))

  private def seqBatchExpected = {
    import spark.implicits._
    // the batch analytic-scan operator over the SAME events (ms time)
    graft.operators.Heuristics.sequenceAbuse(
      seqEvents.flatten
        .map(e => (e.key, new Timestamp(e.tsUs / 1000L), e.seq,
          e.isFirst, e.isSecond))
        .toDF("k", "t", "seq", "f", "s"),
      col("t"), col("seq"), col("k"), col("f"), col("s"),
      deltaMs = 3600000L, threshold = 1)
      .collect().map(r => (r.getAs[String]("key"), r.getAs[Long]("n"),
        r.getAs[Long]("latest_ms"))).toSet
  }

  test("TWS state → parquet snapshot → restore → continuation ≡ uninterrupted run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    SparkTestSession.withRocksDb(spark) {
      val root = java.nio.file.Files.createTempDirectory("snapshot_rt").toString
      val batch1 = Seq(Streaming.Keyed("alice", 0L),
        Streaming.Keyed("alice", 100000000L), // suppressed (inside expiry)
        Streaming.Keyed("bob", 50000000L))
      val batch2 = Seq(
        Streaming.Keyed("alice", 1800000000L), // still inside alice's expiry
        Streaming.Keyed("alice", 4000000000L), // past expiry -> emits
        Streaming.Keyed("bob", 7200000000L)) // past expiry -> emits
      try {
        // run 1: two keys through the suppressor, checkpointed, stopped
        val in1 = MemoryStream[Streaming.Keyed]
        val q1 = Streaming.suppress(in1.toDS(), expirySeconds = 3600)
          .writeStream.format("memory").queryName("snap_run1")
          .option("checkpointLocation", s"$root/ckpt1")
          .outputMode(OutputMode.Append()).start()
        try {
          in1.addData(batch1: _*)
          q1.processAllAvailable()
        } finally q1.stop()
        val out1 = spark.table("snap_run1").as[Streaming.Emitted]
          .collect().toSet
        assert(out1 == Set(Streaming.Emitted("alice", 0L),
          Streaming.Emitted("bob", 50000000L)))

        // snapshot the stopped query's state to parquet, then restore
        Streaming.snapshotTwsValueState(spark, s"$root/ckpt1", "lastEmit",
          s"$root/snap")
        val restored = Streaming.readStateSnapshot[Streaming.SuppressState](
          spark, s"$root/snap")
        assert(restored.collect().toSet ==
          Set(("alice", Streaming.SuppressState(0L)),
            ("bob", Streaming.SuppressState(50000000L))))

        // run 2: a FRESH query (new checkpoint) seeded from the snapshot
        val in2 = MemoryStream[Streaming.Keyed]
        val q2 = Streaming.suppress(in2.toDS(), expirySeconds = 3600,
            initial = Some(restored))
          .writeStream.format("memory").queryName("snap_run2")
          .option("checkpointLocation", s"$root/ckpt2")
          .outputMode(OutputMode.Append()).start()
        try {
          in2.addData(batch2: _*)
          q2.processAllAvailable()
        } finally q2.stop()
        val out2 = spark.table("snap_run2").as[Streaming.Emitted]
          .collect().toSet
        // alice@1800s suppressed ONLY because the restored state knows
        // about her emit at t=0 from run 1
        assert(out2 == Set(Streaming.Emitted("alice", 4000000000L),
          Streaming.Emitted("bob", 7200000000L)))

        // the stitched output equals one uninterrupted run over both
        // batches through the same operator
        val in3 = MemoryStream[Streaming.Keyed]
        val q3 = Streaming.suppress(in3.toDS(), expirySeconds = 3600)
          .writeStream.format("memory").queryName("snap_unbroken")
          .outputMode(OutputMode.Append()).start()
        try {
          in3.addData(batch1: _*)
          q3.processAllAvailable()
          in3.addData(batch2: _*)
          q3.processAllAvailable()
        } finally q3.stop()
        val unbroken = spark.table("snap_unbroken").as[Streaming.Emitted]
          .collect().toSet
        assert((out1 ++ out2) == unbroken)
      } finally
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("streaming sequence abuse: last-first pairing across micro-batches ≡ batch scan") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    SparkTestSession.withRocksDb(spark) {
      val in = MemoryStream[Streaming.SeqEvent]
      val q = Streaming.sequenceAbuseStream(in.toDS(), deltaMs = 3600000L)
        .writeStream.format("memory").queryName("seqabuse")
        .outputMode(OutputMode.Append()).start()
      try {
        seqEvents.foreach { batch =>
          in.addData(batch: _*)
          q.processAllAvailable()
        }
        val got = spark.table("seqabuse").as[(String, Long)].collect().toSeq
        assert(got == Seq(("alice", 1800000000L)))
        // per-key count of streamed violations == the batch operator
        val streamAgg = got.groupBy(_._1).map { case (k, vs) =>
          (k, vs.size.toLong, vs.map(_._2).max / 1000L)
        }.toSet
        assert(streamAgg == seqBatchExpected)
      } finally q.stop()
    }
  }

  test("session error rate streaming twin: native session_window over the reference's rate6 fixture equals the batch form") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.HttpHeuristics
    val refData = "/root/reference/src/test/resources/testdata"
    val files = (1 to 3).map(i => java.nio.file.Paths.get(refData,
      s"httpreq_perendpointerrorrate6/httpreq_perendpointerrorrate6_$i.txt"))
    assume(files.forall(java.nio.file.Files.exists(_)))
    def read(p: java.nio.file.Path): Seq[String] =
      scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(p)).asScala.toSeq
        .filter(_.nonEmpty)
    val rules = Seq(HttpHeuristics.ErrorRule("GET", "/test", 4),
      HttpHeuristics.ErrorRule("GET", "/t.*", 4))
    def errorsOf(ds: org.apache.spark.sql.Dataset[String]) =
      graft.pipelines.HttpRequestPipeline.parsedHttp(ds)
        .filter(col("normalized.requestStatus").between(400, 499))

    // a far-future error advances the watermark so the fixture's
    // session closes and emits its FINAL accumulated pane
    val flush = """{"httpRequest":{"requestMethod":"GET","requestUrl":"https://send/t9","status":400,"remoteIp":"203.0.113.9","userAgent":"x"},"timestamp":"1970-01-01T01:00:00Z","logName":"projects/test/logs/requests"}"""

    val in = MemoryStream[String]
    val stream = Streaming.perEndpointErrorRateStream(
      errorsOf(in.toDS()), "timestamp",
      col("normalized.sourceAddress"), col("normalized.requestMethod"),
      col("normalized.urlRequestPath"), "60 seconds", "0 seconds", rules)
    val q = stream.writeStream.format("memory").queryName("peerastream")
      .outputMode(OutputMode.Append()).start()
    try {
      files.foreach { f => in.addData(read(f): _*); q.processAllAvailable() }
      in.addData(flush); q.processAllAvailable()
      val got = spark.table("peerastream")
        .filter(col("addr") =!= "203.0.113.9")
        .select(col("addr"), col("rule_path"), col("n_errors"),
          col("latest_error_ms"), col("window_max_ts_ms"))
        .as[(String, String, Long, Long, Long)].collect().toSet
      // batch twin on the same lines: the single accumulated session
      val batch = HttpHeuristics.perEndpointErrorRateSessions(
          errorsOf(files.flatMap(read).toDS()), col("timestamp"),
          col("normalized.sourceAddress"),
          col("normalized.requestMethod"),
          col("normalized.urlRequestPath"), gapSeconds = 60, rules)
        .select(col("addr"), col("rule_path"), col("n_errors"),
          col("latest_error_ms"), col("window_max_ts_ms"))
        .as[(String, String, Long, Long, Long)].collect().toSet
      assert(got == batch)
      // the reference's final pane: 18 /t.* errors, window 00:01:44.999
      assert(got == Set(("192.168.1.2", "/t.*", 18L, 45000L, 104999L)))
    } finally q.stop()
  }

  /** Restart body shared by the HDFS- and RocksDB-store variants:
    * minute-0 volume split across a stop/start of the query — only a
    * correctly resumed state store totals the counts. */
  private def runRestartScenario(): Unit = {
    import spark.implicits._
    import graft.pipelines.HttpRequestPipeline
    val cfg = HttpRequestPipeline.Config(hardLimit = 5, errorMaxCount = 3)
    def glb(ip: String, status: Int, t: String) =
      s"""{"httpRequest":{"requestMethod":"GET","requestUrl":"https://h/x","status":$status,"remoteIp":"$ip","userAgent":"ua"},"timestamp":"$t","logName":"projects/p/logs/l"}"""
    // minute-0 volume split ACROSS the restart: 4 requests before, 3
    // after — only the resumed state store can total them to 7 > 5
    val before = (0 until 4).map(i => glb("1.1.1.1", 200, f"2024-01-01T00:00:$i%02dZ")) ++
      (0 until 4).map(i => glb("3.3.3.3", 404, f"2024-01-01T00:00:$i%02dZ"))
    val after = (4 until 7).map(i => glb("1.1.1.1", 200, f"2024-01-01T00:00:$i%02dZ")) ++
      Seq(glb("9.9.9.9", 200, "2024-01-01T00:03:00Z")) // watermark flush
    // recoverable source and sink (file -> parquet): memory streams
    // and memory sinks deliberately refuse checkpoint recovery
    val dir = java.nio.file.Files.createTempDirectory("httpin")
    val outDir = java.nio.file.Files
      .createTempDirectory("httpout").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("httprestart").toString
    def writeLines(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(dir.resolve(name),
        scala.jdk.CollectionConverters.SeqHasAsJava(lines).asJava)

    def startQuery() = HttpRequestPipeline.analyzeStreamFull(
        spark.readStream.textFile(dir.toString), cfg,
        watermarkDelay = "0 seconds")
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    writeLines("batch1.txt", before)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // nothing finalized yet — the minute-0 window is still open
    assert(spark.read.schema(
      "summary STRING, category STRING, subcategory STRING, severity STRING, sourceaddress STRING, count BIGINT, window_start_ms BIGINT")
      .parquet(outDir).filter(col("subcategory") =!= "cfgtick")
      .count() == 0L)

    // a NEW query from the same checkpoint resumes the unfinalized
    // window state; only the new file feeds it
    writeLines("batch2.txt", after)
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      val got = spark.read.parquet(outDir)
        .filter(col("subcategory") =!= "cfgtick")
        .select(col("subcategory"), col("sourceaddress"), col("count"))
        .as[(String, String, Long)].collect().toSet
      // the restored counts bridge the restart: 4 + 3 = 7 requests
      // over the limit of 5, and the 4 pre-restart errors exceed 3
      assert(got == Set(("hard_limit", "1.1.1.1", 7L),
        ("error_rate", "3.3.3.3", 4L)))
    } finally q2.stop()
  }

  test("streaming pipeline survives a restart: checkpointed state resumes mid-stream with no lost or duplicated alerts") {
    runRestartScenario()
  }

  test("streaming pipeline restart under the RocksDB state store (the at-scale provider)") {
    SparkTestSession.withRocksDb(spark)(runRestartScenario())
  }

  test("continuous httprequest pipeline e2e: the full per-resource fan-out — NAT-gated hard limit + error rate + session limit + cfgtick in ONE query, threshold as the sibling mean-join stream — equals the batch pipeline; a late event is dropped by the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.pipelines.HttpRequestPipeline
    val cfg = HttpRequestPipeline.Config(hardLimit = 11,
      errorMaxCount = 5, natMinDistinctUserAgents = 4,
      sessionGapSeconds = 60, maxSessionEvents = 20)

    def glb(ip: String, status: Int, ua: String, t: String) =
      s"""{"httpRequest":{"requestMethod":"GET","requestUrl":"https://h/x","status":$status,"remoteIp":"$ip","userAgent":"$ua"},"timestamp":"$t","logName":"projects/p/logs/l"}"""
    val tick = HttpRequestPipeline.configTickPayload(cfg)

    // minute 0: attacker over the hard limit, a NAT gateway with the
    // same volume across 5 agents, an errorer, a sneaky client at
    // EXACTLY the limit (its 12th request arrives late, below), and a
    // slow-burn client whose per-minute volume stays under every rate
    // bar but whose SESSION (60s gaps) accumulates over the limit
    val batch1: Seq[String] =
      (0 until 12).map(i => glb("1.1.1.1", 200, "ua", f"2024-01-01T00:00:$i%02dZ")) ++
      (0 until 12).map(i => glb("2.2.2.2", 200, s"ua${i % 5}", f"2024-01-01T00:00:$i%02dZ")) ++
      (0 until 6).map(i => glb("3.3.3.3", 404, "ua", f"2024-01-01T00:00:$i%02dZ")) ++
      (0 until 11).map(i => glb("5.5.5.5", 200, "ua", f"2024-01-01T00:00:$i%02dZ")) ++
      (0 until 8).map(i => glb("8.8.8.8", 200, "ua", f"2024-01-01T00:00:${i * 7}%02dZ")) :+
      tick
    // minute 1: a burst client far over the per-window mean (threshold
    // AND hard limit), the NAT gateway at the same volume (suppressed
    // from both rate alerts but NOT from the session limit), quiet
    // background keys shaping the mean, slow-burn continues
    val batch2: Seq[String] =
      (0 until 30).map(i => glb("7.7.7.7", 200, "ua", f"2024-01-01T00:01:${i * 2}%02dZ")) ++
      (0 until 30).map(i => glb("2.2.2.2", 200, s"ua${i % 5}", f"2024-01-01T00:01:${i * 2}%02dZ")) ++
      (0 until 8).map(i => glb("8.8.8.8", 200, "ua", f"2024-01-01T00:01:${i * 7}%02dZ")) ++
      Seq("10.0.0.1", "10.0.0.2", "10.0.0.3").flatMap(ip =>
        (0 until 3).map(i => glb(ip, 200, "ua", f"2024-01-01T00:01:$i%02dZ"))) :+
      tick
    // minute 2: quiet traffic; slow-burn's last events. The max event
    // time moves the watermark past the minute-0 and minute-1 windows
    val batch3: Seq[String] =
      (0 until 3).map(i => glb("4.4.4.4", 200, "ua", f"2024-01-01T00:02:$i%02dZ")) ++
      (0 until 8).map(i => glb("8.8.8.8", 200, "ua", f"2024-01-01T00:02:${i * 7}%02dZ")) :+
      tick
    // the late minute-0 request for 5.5.5.5 would lift it over the
    // hard limit, but its window is already behind the watermark
    val lateLine = glb("5.5.5.5", 200, "ua", "2024-01-01T00:00:30Z")
    val batch4: Seq[String] =
      Seq(lateLine, tick) ++
      // minute 4 pushes the watermark past every open window AND past
      // every closed session's gap so the final micro-batch flushes them
      Seq(glb("6.6.6.6", 200, "ua", "2024-01-01T00:04:30Z"))

    // the multiplexed input: (resource, line) pairs, one monitored
    // resource consumed through its branch, cfg ticks riding the
    // same stream (ref Input.compositeInputAdapter + CfgTickProcessor).
    // One MemoryStream per query, fed the same pairs: a MemoryStream
    // trims its buffer on every commit, so a second query reading the
    // same one could find a batch already trimmed away
    def muxLines(in: MemoryStream[(String, String)]) =
      graft.sources.Multiplex.branch(in.toDF().toDF("resource", "value"),
        "test")
    val in = MemoryStream[(String, String)]
    val thresholdIn = MemoryStream[(String, String)]
    val alerts = HttpRequestPipeline.analyzeStreamFull(muxLines(in), cfg,
      watermarkDelay = "30 seconds")
    val q = alerts.writeStream.format("memory").queryName("httpe2e")
      .outputMode(OutputMode.Append()).start()
    // the threshold sibling over the SAME multiplexed input (ref
    // HTTPRequest.java:182-385 — all heuristic subgraphs off one
    // per-resource parse)
    val thresholdRows =
      scala.collection.mutable.ArrayBuffer[(String, String, Long, Long)]()
    val tq = HttpRequestPipeline.thresholdAlertStream(muxLines(thresholdIn), cfg,
        watermarkDelay = "30 seconds") { df =>
      val rows = df.select(col("subcategory"), col("sourceaddress"),
          col("count"), coalesce(col("window_start_ms"), lit(-1L)))
        .as[(String, String, Long, Long)].collect()
      thresholdRows.synchronized { thresholdRows ++= rows }
    }.start()
    try {
      Seq(batch1, batch2, batch3, batch4).foreach { b =>
        val pairs = b.map(l => ("test", l)) :+ (("other", glb("9.9.9.9", 200, "ua", "2024-01-01T00:00:00Z")))
        in.addData(pairs: _*)
        thresholdIn.addData(pairs: _*)
        q.processAllAvailable()
        tq.processAllAvailable()
      }
      val got = spark.table("httpe2e")
      val composedAlerts = got.filter(col("subcategory") =!= "cfgtick")
        .select(col("subcategory"), col("sourceaddress"), col("count"),
          coalesce(col("window_start_ms"), lit(-1L)))
        .as[(String, String, Long, Long)].collect().toSet
      val gotAlerts = composedAlerts ++
        thresholdRows.synchronized(thresholdRows.toSet)

      // equivalence: the batch pipeline over the lines the stream
      // actually accepted (everything but the late row), across ALL
      // FOUR heuristics of the fan-out
      val accepted =
        (batch1 ++ batch2 ++ batch3 ++ batch4).filterNot(_ == lateLine)
      val batchAlerts = HttpRequestPipeline.analyze(accepted.toDS(), cfg)
        .select(col("subcategory"), col("sourceaddress"), col("count"),
          coalesce(col("window_start_ms"), lit(-1L)))
        .as[(String, String, Long, Long)].collect().toSet
      assert(gotAlerts == batchAlerts)
      // the specific shape: the attacker and the burst client trip the
      // hard limit; the burst client alone trips threshold; the
      // errorer trips error rate; the slow-burn client (24 events, no
      // single minute over any rate bar), the burst client and the NAT
      // gateway (42 events — NAT suppresses rate alerts, not session
      // limits) trip the session limit; the at-the-limit sneaky client
      // stays silent everywhere
      assert(gotAlerts.map(t => (t._1, t._2)) == Set(
        ("hard_limit", "1.1.1.1"), ("hard_limit", "7.7.7.7"),
        ("threshold", "7.7.7.7"),
        ("error_rate", "3.3.3.3"),
        ("session_limit", "8.8.8.8"), ("session_limit", "7.7.7.7"),
        ("session_limit", "2.2.2.2")))
      assert(gotAlerts.collect {
        case ("session_limit", ip, n, _) => (ip, n) }.toSet ==
        Set(("8.8.8.8", 24L), ("7.7.7.7", 30L), ("2.2.2.2", 42L)))

      // the late event was dropped: batch over ALL lines (late row
      // included) WOULD alert 5.5.5.5, the stream does not
      val withLate = HttpRequestPipeline.analyze(
          (batch1 ++ batch2 ++ batch3 ++ batch4).toDS(), cfg)
        .filter(col("subcategory") === "hard_limit")
        .select(col("sourceaddress")).as[String].collect().toSet
      assert(withLate.contains("5.5.5.5"))
      assert(!gotAlerts.exists(_._2 == "5.5.5.5"))

      // cfg ticks flowed through the same query, one alert per tick,
      // carrying the self-documenting payload
      val ticks = got.filter(col("subcategory") === "cfgtick")
        .select(col("summary"), col("category")).as[(String, String)]
        .collect()
      assert(ticks.length == 4)
      assert(ticks.forall(_._2 == "httprequest-cfgtick"))
      assert(ticks.forall(_._1.contains("heuristic_HardLimitAnalysis")))
      // the other resource's traffic never leaked into this branch
      assert(!gotAlerts.exists(_._2 == "9.9.9.9"))
    } finally { q.stop(); tq.stop() }
  }

  test("streaming enumeration carries the AlertSuppressorCount(600) gate " +
      "across windows and matches the gated batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.pipelines.CustomsPipeline
    val cfg = CustomsPipeline.FullConfig(enumerationThreshold = 5,
      minVarianceClients = 1)
    val t = 1699999800L // 10-minute-aligned
    def authLine(tt: Long, email: String): String = {
      val iso = java.time.Instant.ofEpochSecond(tt).toString
      s"""{"insertId":"i","jsonPayload":{"EnvVersion":"2.0","Fields":{""" +
        s""""agent":"m","email":"$email","errno":0,"method":"post",""" +
        s""""op":"request.summary","path":"/v1/account/status",""" +
        s""""remoteAddressChain":"[\\"6.6.6.6\\"]","service":"sync",""" +
        s""""status":200,"t":12,"uid":"u"},"Logger":"fxa-auth-server",""" +
        s""""Pid":1,"Severity":6,"Timestamp":${tt}000000000,""" +
        s""""Type":"request.summary"},"timestamp":"$iso"}"""
    }
    def contentLine(tt: Long): String =
      s"""{"Timestamp":${tt}000000000,"Type":"request","Logger":"fxa-content-server",""" +
        s""""Hostname":"h","Fields":{"clientaddress":"7.7.7.7","path":"/s",""" +
        s""""method":"get","status":200}}"""
    // three consecutive windows: 5, 5, 6 distinct emails, each burst
    // at the top of its window so the latest-event suppression stamps
    // sit exactly 600s apart — w1 must be suppressed by the count gate
    // (same count, not strictly past expiry), w2 re-emits on the count
    // change
    def burst(w: Int, n: Int) =
      (0 until n).map(i => authLine(t + w * 600 + i, s"e$i@x.com")) :+
        contentLine(t + w * 600)
    val all = burst(0, 5) ++ burst(1, 5) ++ burst(2, 6)
    val pusher = authLine(t + 5000, "z@x.com") // closes every window
    val in = MemoryStream[String]
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val eq = CustomsPipeline.enumerationAlertStream(in.toDS(), cfg,
        watermarkDelay = "30 seconds") { df =>
      val rows = df.select(col("alert_ts_ms"), col("count"))
        .as[(Long, Long)].collect()
      got.synchronized { got ++= rows }
    }.start()
    try {
      in.addData(all: _*); eq.processAllAvailable()
      in.addData(pusher); eq.processAllAvailable()
      val streamed = got.synchronized(got.toSet)
      val batch = CustomsPipeline.analyzeFull((all :+ pusher).toDS(), cfg)
        .filter(col("subcategory") === "account_enumeration")
        .select(col("alert_ts_ms"), col("count"))
        .as[(Long, Long)].collect().toSet
      // stamps are the LATEST qualifying event per window (ref
      // CustomsAccountEnumeration.java:138): w0 latest t+4, w2 latest
      // t+1200+5
      assert(streamed == Set(((t + 4) * 1000L, 5L),
        ((t + 1205) * 1000L, 6L)))
      assert(batch == streamed)
    } finally eq.stop()
  }

  test("streaming distinct-count gates are exact at the threshold " +
      "boundary: exactly-threshold emits with the exact count, " +
      "threshold-minus-one stays silent — both agreeing with the " +
      "batch twin (no sketch tolerance)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.pipelines.CustomsPipeline
    val cfg = CustomsPipeline.FullConfig(enumerationThreshold = 5,
      minVarianceClients = 1, srcFailDistThreshold = 3)
    val t = 1700000000L
    def authLine(tt: Long, path: String, status: Int, email: String,
        addr: String, errno: Int = 0): String = {
      val iso = java.time.Instant.ofEpochSecond(tt).toString
      s"""{"insertId":"i","jsonPayload":{"EnvVersion":"2.0","Fields":{""" +
        s""""agent":"m","email":"$email","errno":$errno,"method":"post",""" +
        s""""op":"request.summary","path":"$path",""" +
        s""""remoteAddressChain":"[\\"$addr\\"]","service":"sync",""" +
        s""""status":$status,"t":12,"uid":"u"},"Logger":"fxa-auth-server",""" +
        s""""Pid":1,"Severity":6,"Timestamp":${tt}000000000,""" +
        s""""Type":"request.summary"},"timestamp":"$iso"}"""
    }
    def contentLine(tt: Long): String =
      s"""{"Timestamp":${tt}000000000,"Type":"request","Logger":"fxa-content-server",""" +
        s""""Hostname":"h","Fields":{"clientaddress":"7.7.7.7","path":"/s",""" +
        s""""method":"get","status":200}}"""
    val lines: Seq[String] =
      // src A: 5 status checks, EXACTLY 5 distinct emails -> alert 5
      (0 until 5).map(i => authLine(t + i, "/v1/account/status", 200,
        s"a$i@x.com", "6.6.6.6")) ++
      // src B: 5 status checks but only 4 distinct emails -> silent
      (0 until 5).map(i => authLine(t + i, "/v1/account/status", 200,
        s"b${math.min(i, 3)}@x.com", "6.6.6.7")) ++
      Seq(contentLine(t)) ++
      // email X: 3 failures from EXACTLY 3 distinct srcs -> alert 3
      (0 until 3).map(i => authLine(t + i, "/v1/account/login", 400,
        "x@x.com", s"1.2.3.$i", errno = 103)) ++
      // email Y: 3 failures from only 2 distinct srcs -> silent
      (0 until 3).map(i => authLine(t + i, "/v1/account/login", 400,
        "y@x.com", s"1.2.4.${math.min(i, 1)}", errno = 103))
    val pusher = authLine(t + 7200, "/v1/account/status", 200,
      "z@x.com", "3.3.3.3")
    def alertSet(rows: Seq[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[String]("subcategory"), r.getAs[String]("key"),
        r.getAs[Long]("count"))).toSet
    val expected = Set(
      ("account_enumeration", "6.6.6.6", 5L),
      ("source_login_failure_distributed", "x@x.com", 3L))
    // streaming: enumeration sibling + the unioned stream
    val in = MemoryStream[String]
    val got = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    val eq = CustomsPipeline.enumerationAlertStream(in.toDS(), cfg,
        watermarkDelay = "30 seconds") { df =>
      val rows = df.collect(); got.synchronized { got ++= rows }
    }.start()
    val q = CustomsPipeline.analyzeStreamFull(in.toDS(), cfg,
        watermarkDelay = "30 seconds")
      .writeStream.format("memory").queryName("boundarye2e")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      in.addData(lines: _*); eq.processAllAvailable(); q.processAllAvailable()
      in.addData(pusher); eq.processAllAvailable(); q.processAllAvailable()
      val streamed = alertSet(got.synchronized(got.toSeq)) ++
        alertSet(spark.table("boundarye2e")
          .filter(col("subcategory").isin("account_enumeration",
            "source_login_failure_distributed")).collect().toSeq)
      assert(streamed == expected, s"streamed $streamed")
      // batch twin over the same accepted lines: identical decisions
      val batch = alertSet(CustomsPipeline.analyzeFull(
          (lines :+ pusher).toDS(), cfg).collect().toSeq
        .filter(r => Set("account_enumeration",
          "source_login_failure_distributed")
          .contains(r.getAs[String]("subcategory"))))
      assert(batch == expected, s"batch $batch")
    } finally { eq.stop(); q.stop() }
  }

  test("streamDistinctCap is 4x the larger customs gate threshold") {
    import graft.pipelines.CustomsPipeline.FullConfig
    // default thresholds: enumeration 5, srcFailDist 3 -> 20
    assert(FullConfig().streamDistinctCap == 20)
    // the larger threshold drives the cap
    assert(FullConfig(enumerationThreshold = 2, srcFailDistThreshold = 7)
      .streamDistinctCap == 28)
    // the cap sits at or above every threshold by construction
    val c = FullConfig(enumerationThreshold = 1000,
      srcFailDistThreshold = 999)
    assert(c.streamDistinctCap >= c.enumerationThreshold &&
      c.streamDistinctCap >= c.srcFailDistThreshold)
  }

  test("capped distinct counter: customs gates exact below the cap, " +
      "a flood saturates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.pipelines.CustomsPipeline
    // thresholds 5 and 3: the derived cap is 4 x 5 = 20
    val cfg = CustomsPipeline.FullConfig(enumerationThreshold = 5,
      minVarianceClients = 1, srcFailDistThreshold = 3)
    assert(cfg.streamDistinctCap == 20)
    val t = 1700000000L
    def authLine(tt: Long, path: String, status: Int, email: String,
        addr: String, errno: Int = 0): String = {
      val iso = java.time.Instant.ofEpochSecond(tt).toString
      s"""{"insertId":"i","jsonPayload":{"EnvVersion":"2.0","Fields":{""" +
        s""""agent":"m","email":"$email","errno":$errno,"method":"post",""" +
        s""""op":"request.summary","path":"$path",""" +
        s""""remoteAddressChain":"[\\"$addr\\"]","service":"sync",""" +
        s""""status":$status,"t":12,"uid":"u"},"Logger":"fxa-auth-server",""" +
        s""""Pid":1,"Severity":6,"Timestamp":${tt}000000000,""" +
        s""""Type":"request.summary"},"timestamp":"$iso"}"""
    }
    def contentLine(tt: Long): String =
      s"""{"Timestamp":${tt}000000000,"Type":"request","Logger":"fxa-content-server",""" +
        s""""Hostname":"h","Fields":{"clientaddress":"7.7.7.7","path":"/s",""" +
        s""""method":"get","status":200}}"""
    val lines: Seq[String] =
      // src A: exactly-threshold 5 distinct emails -> alert, count 5
      // (below-the-cap EXACT path: identical to an exact count)
      (0 until 5).map(i => authLine(t + i, "/v1/account/status", 200,
        s"a$i@x.com", "6.6.6.6")) ++
      // src B: 4 distinct emails -> silent (exact below cap)
      (0 until 5).map(i => authLine(t + i, "/v1/account/status", 200,
        s"b${math.min(i, 3)}@x.com", "6.6.6.7")) ++
      // src F: a 25-distinct-email FLOOD, split across two
      // micro-batches so the bounded state must merge incrementally
      // -> alerts with count SATURATED at the cap of 20 (an exact
      // count would carry 25 and hold 25 set members)
      (0 until 12).map(i => authLine(t + i, "/v1/account/status", 200,
        s"f$i@x.com", "6.6.6.8")) ++
      Seq(contentLine(t)) ++
      // email X: 3 failures, 3 distinct srcs (== srcFailDistThreshold,
      // below the cap -> exact count 3)
      (0 until 3).map(i => authLine(t + i, "/v1/account/login", 400,
        "x@x.com", s"1.2.3.$i", errno = 103))
    val floodTail = (12 until 25).map(i => authLine(t + i,
      "/v1/account/status", 200, s"f$i@x.com", "6.6.6.8"))
    val pusher = authLine(t + 7200, "/v1/account/status", 200,
      "z@x.com", "3.3.3.3")
    val in = MemoryStream[String]
    val got = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    val eq = CustomsPipeline.enumerationAlertStream(in.toDS(), cfg,
        watermarkDelay = "30 seconds") { df =>
      val rows = df.collect(); got.synchronized { got ++= rows }
    }.start()
    val q = CustomsPipeline.analyzeStreamFull(in.toDS(), cfg,
        watermarkDelay = "30 seconds")
      .writeStream.format("memory").queryName("cappede2e")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      in.addData(lines: _*); eq.processAllAvailable(); q.processAllAvailable()
      in.addData(floodTail: _*); eq.processAllAvailable(); q.processAllAvailable()
      in.addData(pusher); eq.processAllAvailable(); q.processAllAvailable()
      def alertSet(rows: Seq[org.apache.spark.sql.Row]) = rows
        .map(r => (r.getAs[String]("subcategory"), r.getAs[String]("key"),
          r.getAs[Long]("count"))).toSet
      val streamed = alertSet(got.synchronized(got.toSeq)) ++
        alertSet(spark.table("cappede2e")
          .filter(col("subcategory").isin("account_enumeration",
            "source_login_failure_distributed")).collect().toSeq)
      assert(streamed == Set(
        ("account_enumeration", "6.6.6.6", 5L),
        ("account_enumeration", "6.6.6.8", 20L), // saturated: true 25
        ("source_login_failure_distributed", "x@x.com", 3L)),
        s"streamed $streamed")
    } finally { eq.stop(); q.stop() }
  }

  test("streaming enumeration suppression survives a query restart when " +
      "given a state path (the reference's Beam per-key state is durable " +
      "in Dataflow — a restarted pipeline keeps suppressing)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.pipelines.CustomsPipeline
    val cfg = CustomsPipeline.FullConfig(enumerationThreshold = 5,
      minVarianceClients = 1)
    val t = 1699999800L // 10-minute-aligned
    def authLine(tt: Long, email: String): String = {
      val iso = java.time.Instant.ofEpochSecond(tt).toString
      s"""{"insertId":"i","jsonPayload":{"EnvVersion":"2.0","Fields":{""" +
        s""""agent":"m","email":"$email","errno":0,"method":"post",""" +
        s""""op":"request.summary","path":"/v1/account/status",""" +
        s""""remoteAddressChain":"[\\"6.6.6.6\\"]","service":"sync",""" +
        s""""status":200,"t":12,"uid":"u"},"Logger":"fxa-auth-server",""" +
        s""""Pid":1,"Severity":6,"Timestamp":${tt}000000000,""" +
        s""""Type":"request.summary"},"timestamp":"$iso"}"""
    }
    def contentLine(tt: Long): String =
      s"""{"Timestamp":${tt}000000000,"Type":"request","Logger":"fxa-content-server",""" +
        s""""Hostname":"h","Fields":{"clientaddress":"7.7.7.7","path":"/s",""" +
        s""""method":"get","status":200}}"""
    def burst(w: Int, n: Int) =
      (0 until n).map(i => authLine(t + w * 600 + i, s"e$i@x.com")) :+
        contentLine(t + w * 600)
    // a file:// URI, NOT a bare local path: java.io.File("file:///x")
    // .exists() is always false, so the pre-fix restore (which probed
    // with java.io.File) silently never restored any scheme-qualified
    // path — this pins the Hadoop-FS read/write pair on exactly the
    // path shape production (hdfs://, s3a://) uses
    val statePath = "file://" + java.nio.file.Files
      .createTempDirectory("enumstate").toString + "/gate"
    def collectAlerts(batches: Seq[Seq[String]]): Set[(Long, Long)] = {
      val in = MemoryStream[String]
      val got = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      val eq = CustomsPipeline.enumerationAlertStream(in.toDS(), cfg,
          watermarkDelay = "30 seconds",
          statePath = Some(statePath)) { df =>
        val rows = df.select(col("alert_ts_ms"), col("count"))
          .as[(Long, Long)].collect()
        got.synchronized { got ++= rows }
      }.start()
      try {
        batches.foreach { b => in.addData(b: _*); eq.processAllAvailable() }
        got.synchronized(got.toSet)
      } finally eq.stop()
    }
    // run 1: w0 alerts (5 emails, latest t+4) and its suppression
    // state is snapshotted to the state path
    val run1 = collectAlerts(Seq(burst(0, 5),
      Seq(authLine(t + 5000, "z@x.com"))))
    assert(run1 == Set(((t + 4) * 1000L, 5L)))
    // run 2, a FRESH query over the same state path: w1 repeats the
    // same 5 emails with its latest event exactly 600s after w0's —
    // not strictly past expiry, same count. A query-scoped map would
    // have forgotten w0 and re-emitted; the restored state keeps
    // suppressing, like the reference's durable Beam state
    val run2 = collectAlerts(Seq(burst(1, 5),
      Seq(authLine(t + 6000, "z@x.com"))))
    assert(run2.isEmpty)
    // run 3: a count CHANGE still re-emits through the restored state
    val run3 = collectAlerts(Seq(burst(2, 6),
      Seq(authLine(t + 7000, "z@x.com"))))
    assert(run3 == Set(((t + 1205) * 1000L, 6L)))
  }

  test("streaming enumeration is at-least-once: an alert whose delivery " +
      "failed is re-emitted after a restart from the same checkpoint and " +
      "state path") {
    import spark.implicits._
    import graft.pipelines.CustomsPipeline
    val cfg = CustomsPipeline.FullConfig(enumerationThreshold = 5,
      minVarianceClients = 1)
    val t = 1699999800L // 10-minute-aligned
    def authLine(tt: Long, email: String): String = {
      val iso = java.time.Instant.ofEpochSecond(tt).toString
      s"""{"insertId":"i","jsonPayload":{"EnvVersion":"2.0","Fields":{""" +
        s""""agent":"m","email":"$email","errno":0,"method":"post",""" +
        s""""op":"request.summary","path":"/v1/account/status",""" +
        s""""remoteAddressChain":"[\\"6.6.6.6\\"]","service":"sync",""" +
        s""""status":200,"t":12,"uid":"u"},"Logger":"fxa-auth-server",""" +
        s""""Pid":1,"Severity":6,"Timestamp":${tt}000000000,""" +
        s""""Type":"request.summary"},"timestamp":"$iso"}"""
    }
    val contentLine =
      s"""{"Timestamp":${t}000000000,"Type":"request","Logger":"fxa-content-server",""" +
        s""""Hostname":"h","Fields":{"clientaddress":"7.7.7.7","path":"/s",""" +
        s""""method":"get","status":200}}"""
    // one window of 5 distinct emails (latest t+4) and a pusher that
    // closes it: the alert finalizes in the batch after the data batch
    val dir = java.nio.file.Files.createTempDirectory("enumin")
    java.nio.file.Files.write(dir.resolve("lines.txt"),
      scala.jdk.CollectionConverters.SeqHasAsJava(
        (0 until 5).map(i => authLine(t + i, s"e$i@x.com")) ++
          Seq(contentLine, authLine(t + 5000, "z@x.com"))).asJava)
    val statePath = "file://" + java.nio.file.Files
      .createTempDirectory("enumstate").toString + "/gate"
    val ckpt = java.nio.file.Files.createTempDirectory("enumckpt").toString
    def start(onAlerts: org.apache.spark.sql.DataFrame => Unit) =
      CustomsPipeline.enumerationAlertStream(
          spark.readStream.textFile(dir.toString), cfg,
          watermarkDelay = "30 seconds", statePath = Some(statePath))(onAlerts)
        .option("checkpointLocation", ckpt).start()
    // first run: the sink fails on the batch that carries the alert
    val q1 = start { df =>
      if (!df.isEmpty) throw new IllegalStateException("alert sink down")
    }
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q1.processAllAvailable() finally q1.stop()
    }
    // restart from the same checkpoint and state path: the failed batch
    // replays against the state it started from, so the alert arrives
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q2 = start { df =>
      val rows = df.select(col("alert_ts_ms"), col("count"))
        .as[(Long, Long)].collect()
      got.synchronized { got ++= rows }
    }
    try q2.processAllAvailable() finally q2.stop()
    assert(got.synchronized(got.toSet) == Set(((t + 4) * 1000L, 5L)))
  }

  test("NAT gate: a client without an address is never a gateway, so " +
      "with known gateways set the stream keeps its hard-limit and " +
      "threshold alerts exactly like the batch pipeline") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.pipelines.HttpRequestPipeline
    val cfg = HttpRequestPipeline.Config(hardLimit = 5, errorMaxCount = 100,
      thresholdModifier = 1.5, natMinDistinctUserAgents = 4,
      maxSessionEvents = 1000, knownGateways = Seq("2.2.2.2"))
    // a GLB line with a requestUrl but no remoteIp parses to an
    // HTTP_REQUEST with a null source address
    def glb(ip: Option[String], t: String) = {
      val remote = ip.fold("")(a => s""","remoteIp":"$a"""")
      s"""{"httpRequest":{"requestMethod":"GET","requestUrl":"https://h/x","status":200$remote,"userAgent":"ua"},"timestamp":"$t","logName":"projects/p/logs/l"}"""
    }
    // minute 0: 8 address-less requests and 8 from the known gateway
    // (both over the hard limit and the 1.5 x 4.5 mean), two quiet
    // clients; minute 3 moves the watermark past minute 0
    val lines: Seq[String] =
      (0 until 8).map(i => glb(None, f"2024-01-01T00:00:$i%02dZ")) ++
      (0 until 8).map(i => glb(Some("2.2.2.2"), f"2024-01-01T00:00:$i%02dZ")) ++
      Seq(glb(Some("3.3.3.3"), "2024-01-01T00:00:10Z"),
        glb(Some("4.4.4.4"), "2024-01-01T00:00:10Z"))
    val pusher = glb(Some("9.9.9.9"), "2024-01-01T00:03:00Z")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("subcategory"), col("sourceaddress"), col("count"))
        .as[(String, String, Long)].collect().toSet
    val in = MemoryStream[String]
    val q = HttpRequestPipeline.analyzeStreamFull(in.toDS(), cfg,
        watermarkDelay = "30 seconds")
      .writeStream.format("memory").queryName("natnullkey")
      .outputMode(OutputMode.Append()).start()
    val thresholdRows =
      scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    val tq = HttpRequestPipeline.thresholdAlertStream(in.toDS(), cfg,
        watermarkDelay = "30 seconds") { df =>
      val r = rows(df); thresholdRows.synchronized { thresholdRows ++= r }
    }.start()
    try {
      Seq(lines, Seq(pusher)).foreach { b =>
        in.addData(b: _*); q.processAllAvailable(); tq.processAllAvailable()
      }
      val streamed = rows(spark.table("natnullkey")
          .filter(col("subcategory") =!= "cfgtick")) ++
        thresholdRows.synchronized(thresholdRows.toSet)
      val batch = rows(HttpRequestPipeline.analyze((lines :+ pusher).toDS(), cfg))
      assert(batch == Set(("hard_limit", null, 8L), ("threshold", null, 8L)),
        s"batch $batch")
      assert(streamed == batch, s"streamed $streamed")
    } finally { q.stop(); tq.stop() }
  }

  test("NAT gate on a bounded counter: a 50-agent gateway and a client " +
      "one agent under the NAT threshold (plus null agents) decide as the " +
      "batch pipeline, and the per-client state stays small per row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.pipelines.HttpRequestPipeline
    val cfg = HttpRequestPipeline.Config(hardLimit = 10, errorMaxCount = 100,
      thresholdModifier = 1.5, natMinDistinctUserAgents = 4,
      maxSessionEvents = 1000)
    def glb(ip: String, ua: Option[String], t: String) = {
      val agent = ua.fold("")(a => s""","userAgent":"$a"""")
      s"""{"httpRequest":{"requestMethod":"GET","requestUrl":"https://h/x","status":200,"remoteIp":"$ip"$agent},"timestamp":"$t","logName":"projects/p/logs/l"}"""
    }
    // minute 0: 1.1.1.1 is a gateway with 50 distinct agents; 2.2.2.2
    // carries natMin - 1 = 3 agents plus null-agent rows (nulls are not
    // agents), so it is no gateway; three quiet clients shape the mean
    val lines: Seq[String] =
      (0 until 50).map(i => glb("1.1.1.1", Some(s"agent$i"),
        f"2024-01-01T00:00:${i % 60}%02dZ")) ++
      (0 until 12).map(i => glb("2.2.2.2", Some(s"ua${i % 3}"),
        f"2024-01-01T00:00:$i%02dZ")) ++
      (0 until 6).map(i => glb("2.2.2.2", None,
        f"2024-01-01T00:00:${20 + i}%02dZ")) ++
      Seq("3.3.3.3", "4.4.4.4", "5.5.5.5").map(ip =>
        glb(ip, Some("ua"), "2024-01-01T00:00:40Z"))
    val pusher = glb("9.9.9.9", Some("ua"), "2024-01-01T00:03:00Z")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("subcategory"), col("sourceaddress"), col("count"))
        .as[(String, String, Long)].collect().toSet
    val in = MemoryStream[String]
    val q = HttpRequestPipeline.analyzeStreamFull(in.toDS(), cfg,
        watermarkDelay = "30 seconds")
      .writeStream.format("memory").queryName("natbounded")
      .outputMode(OutputMode.Append()).start()
    val thresholdRows =
      scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    val tq = HttpRequestPipeline.thresholdAlertStream(in.toDS(), cfg,
        watermarkDelay = "30 seconds") { df =>
      val r = rows(df); thresholdRows.synchronized { thresholdRows ++= r }
    }.start()
    try {
      in.addData(lines: _*); q.processAllAvailable(); tq.processAllAvailable()
      // the threshold sibling's one state operator is the per-client
      // aggregate; its minute-0 rows are still open here. An HLL++
      // buffer at rsd 0.01 alone is ~13 KB per row
      val ops = tq.lastProgress.stateOperators.filter(_.numRowsTotal > 0)
      assert(ops.length == 1, ops.mkString(", "))
      val bytesPerRow = ops.head.memoryUsedBytes / ops.head.numRowsTotal
      assert(ops.head.numRowsTotal == 5 && bytesPerRow < 4096,
        s"${ops.head.numRowsTotal} rows, $bytesPerRow bytes per row")
      in.addData(pusher); q.processAllAvailable(); tq.processAllAvailable()
      val streamed = rows(spark.table("natbounded")
          .filter(col("subcategory") =!= "cfgtick")) ++
        thresholdRows.synchronized(thresholdRows.toSet)
      val batch = rows(HttpRequestPipeline.analyze((lines :+ pusher).toDS(), cfg))
      // 2.2.2.2's 18 requests (mean 71 / 5 = 14.2, x 1.5 = 21.3) trip
      // the hard limit only; the gateway's 50 trip nothing
      assert(batch == Set(("hard_limit", "2.2.2.2", 18L)), s"batch $batch")
      assert(streamed == batch, s"streamed $streamed")
    } finally { q.stop(); tq.stop() }
  }

  test("continuous customs pipeline e2e: summary + distributed failures + " +
      "comparator + monitored activity in ONE query, variance-gated " +
      "enumeration and the at-risk chain as siblings — equals the batch " +
      "suite; a late event is dropped by the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.pipelines.CustomsPipeline
    val cfg = CustomsPipeline.FullConfig(
      enumerationThreshold = 5, minVarianceClients = 3,
      srcFailDistThreshold = 3,
      monitoredAddrs = Seq("4.4.4.4"),
      monitoredAccounts = Seq("mon@x.com"))
    val t = 1700000000L
    def authLine(tt: Long, path: String, status: Int, email: String,
        uid: String, addr: String, errno: Int = 0): String = {
      val iso = java.time.Instant.ofEpochSecond(tt).toString
      s"""{"insertId":"i","jsonPayload":{"EnvVersion":"2.0","Fields":{""" +
        s""""agent":"Mozilla/5.0","email":"$email","errno":$errno,""" +
        s""""method":"post","op":"request.summary","path":"$path",""" +
        s""""remoteAddressChain":"[\\"$addr\\"]","service":"sync",""" +
        s""""status":$status,"t":12,"uid":"$uid"},""" +
        s""""Logger":"fxa-auth-server","Pid":1,"Severity":6,"Timestamp":${tt}000000000,""" +
        s""""Type":"request.summary"},"timestamp":"$iso"}"""
    }
    def contentLine(tt: Long, addr: String): String =
      s"""{"Timestamp":${tt}000000000,"Type":"request","Logger":"fxa-content-server",""" +
        s""""Hostname":"h","Fields":{"clientaddress":"$addr","path":"/signin",""" +
        s""""method":"get","status":200}}"""

    // batch 1: the full scenario inside one 10m window
    val batch1: Seq[String] =
      // enumerator: 5 status checks, distinct accounts, single path
      (0 until 5).map(i => authLine(t + i, "/v1/account/status", 200,
        s"e$i@x.com", s"v$i", "6.6.6.6")) ++
      // same shape but variance-exempt: browses the content server
      (0 until 5).map(i => authLine(t + i, "/v1/account/status", 200,
        s"e$i@x.com", s"v$i", "7.7.7.7")) ++
      Seq(contentLine(t, "7.7.7.7"), contentLine(t, "8.8.8.8"),
        contentLine(t, "9.9.9.9")) ++
      // distributed failures: one account, 3 sources
      (0 until 3).map(i => authLine(t + i, "/v1/account/login", 400,
        "victim@x.com", "u1", s"1.2.3.$i", errno = 103)) ++
      // comparator flag from the monitored address + monitored account
      Seq(authLine(t + 10, "/v1/account/status", 200, "a@x.com",
          "u3", "4.4.4.4"),
        authLine(t + 20, "/v1/account/login", 200, "mon@x.com",
          "u2", "5.5.5.5"))
    // batch 2: the flagged account fails a login (at-risk chain), and a
    // far-future event pushes the watermark past every open window.
    // The pushers are STATUS CHECKS (summary class null, below every
    // detector threshold) so they close windows without creating
    // summary rows in windows the stream itself would never finalize
    val batch2: Seq[String] = Seq(
      authLine(t + 100, "/v1/account/login", 400, "a@x.com", "u3",
        "1.2.3.9", errno = 103),
      authLine(t + 7200, "/v1/account/status", 200, "z@x.com", "u9",
        "3.3.3.3"))
    // batch 3: a LATE failure for the victim from a brand-new source —
    // its 10m window is behind the watermark, so the stream must hold
    // the distributed-failure count at 3 where batch-with-late says 4
    val lateLine = authLine(t + 5, "/v1/account/login", 400,
      "victim@x.com", "u1", "1.2.3.99", errno = 103)
    val batch3: Seq[String] = Seq(lateLine,
      authLine(t + 7300, "/v1/account/status", 200, "z2@x.com", "u9",
        "3.3.3.3"))

    // the at-risk sibling runs on transformWithState -> RocksDB store
    SparkTestSession.withRocksDb(spark) {
      val in = MemoryStream[(String, String)]
      val mux = in.toDF().toDF("resource", "value")
      val lines = graft.sources.Multiplex.branch(mux, "fxa")
      val q = CustomsPipeline.analyzeStreamFull(lines, cfg,
          watermarkDelay = "30 seconds")
        .writeStream.format("memory").queryName("customse2e")
        .outputMode(OutputMode.Append()).start()
      val enumRows =
        scala.collection.mutable.ArrayBuffer[(String, String, Long, Long)]()
      val eq = CustomsPipeline.enumerationAlertStream(lines, cfg,
          watermarkDelay = "30 seconds") { df =>
        val rows = df.select(col("subcategory"), col("key"), col("count"),
            coalesce(col("alert_ts_ms"), lit(-1L)))
          .as[(String, String, Long, Long)].collect()
        enumRows.synchronized { enumRows ++= rows }
      }.start()
      val aq = CustomsPipeline.atRiskAlertStream(lines, cfg)
        .writeStream.format("memory").queryName("customsatrisk")
        .outputMode(OutputMode.Append()).start()
      try {
        Seq(batch1, batch2, batch3).foreach { b =>
          in.addData(b.map(l => ("fxa", l)) :+
            (("other", authLine(t, "/v1/account/login", 400,
              "leak@x.com", "u8", "8.8.4.4", errno = 103))): _*)
          q.processAllAvailable()
          eq.processAllAvailable()
          aq.processAllAvailable()
        }
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.select(col("subcategory"), col("key"), col("count"),
              coalesce(col("alert_ts_ms"), lit(-1L)))
            .as[(String, String, Long, Long)].collect().toSet
        val gotAlerts = rows(spark.table("customse2e")) ++
          rows(spark.table("customsatrisk")) ++
          enumRows.synchronized(enumRows.toSet)

        // equivalence with the batch suite over the lines the stream
        // accepted (everything but the late row), across all SIX
        // detector families of the fan-out
        val accepted = (batch1 ++ batch2 ++ batch3).filterNot(_ == lateLine)
        val batchAlerts = rows(CustomsPipeline.analyzeFull(
          accepted.toDS(), cfg))
        assert(gotAlerts == batchAlerts)
        // the specific shape
        assert(gotAlerts.map(a => (a._1, a._2)) == Set(
          ("account_enumeration", "6.6.6.6"),
          ("source_login_failure_distributed", "victim@x.com"),
          ("status_comparator", "4.4.4.4"),
          ("activity_monitor", "mon@x.com"),
          ("login_failure_at_risk_account", "a@x.com"),
          ("summary", "login_failure"), ("summary", "login_success")))
        // late-drop pinned: with the late line, batch counts 4 sources
        val withLate = CustomsPipeline.analyzeFull(
            (batch1 ++ batch2 ++ batch3).toDS(), cfg)
          .filter(col("subcategory") === "source_login_failure_distributed")
          .select(col("count")).as[Long].collect().toSet
        assert(withLate == Set(4L))
        assert(gotAlerts.collect {
          case ("source_login_failure_distributed", _, n, _) => n } == Set(3L))
        // the other resource's traffic never leaked into this branch
        assert(!gotAlerts.exists(_._2 == "leak@x.com"))
      } finally {
        q.stop(); eq.stop(); aq.stop()
      }
    }
  }

  test("qualityMixStream: the SHIPPED LLR classifier applied to a " +
      "document stream (stream-static model join + chained windowed " +
      "aggregation) — finalized windows equal the batch twin over " +
      "the same documents") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, TextAnalysis}
    import graft.sources.Tables
    implicit val sqlCtx = spark.sqlContext
    // train on q94's derivation, ship, load — the stream consumes
    // the ARTIFACT, not the live model
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val labeled = d.filter(col("doc_id") % 2 === 0)
      .withColumn("lab", size(filter(Dedup.tokens(col("text")),
        t => t.isin("vector", "stream", "batch"))) >= 3)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-qmix-stream").toString
    TextAnalysis.saveLlrModel(
      TextAnalysis.llrTrain(labeled, col("text"), col("lab")), s"$tmp/m")
    val model = TextAnalysis.loadLlrModel(spark, s"$tmp/m")

    val t0 = 1700000000L
    // a genuine MIX, selected by the model's own batch predictions
    // (the corpus-dependent marker heuristic under-selected): up to
    // 20 predicted-positive docs interleaved with predicted-negative
    // ones, so both quality classes appear in the finalized windows
    val predicted = TextAnalysis.llrScoreWith(d, col("doc_id"),
        col("text"), model)
      .select(col("doc_id"), col("pred_quality"))
      .as[(Long, Boolean)].collect().toMap
    val texts = d.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toMap
    def pick(cls: Boolean) = predicted.collect {
      case (id0, p) if p == cls => id0 }.toSeq.sorted.take(20)
      .map(id0 => (id0, texts(id0)))
    val (posD, negD) = (pick(true), pick(false))
    assert(posD.nonEmpty && negD.nonEmpty,
      "fixture needs both predicted classes in the corpus")
    val docs = (posD ++ negD).zipWithIndex
      .sortBy { case (_, i) => i % negD.size } // interleave classes
      .map(_._1)
    // two 10-minute windows, 20 docs each, across two micro-batches
    val events = docs.zipWithIndex.map { case ((id0, t), i) =>
      (t0 + (i / 20) * 600L + (i % 20), id0, t) }
    val (b1, b2) = events.splitAt(25)
    val in = MemoryStream[(Long, Long, String)]
    val q = Streaming.qualityMixStream(
        in.toDS().select(timestamp_seconds(col("_1")).as("ts"),
          col("_2").as("doc_id"), col("_3").as("text")),
        "ts", col("doc_id"), col("text"), model,
        "10 minutes", "30 seconds")
      .writeStream.format("memory").queryName("qmix")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      in.addData((t0 + 7200L, -1L, "the end")); q.processAllAvailable()
      val streamed = spark.table("qmix")
        .filter(col("window_start_ms") < (t0 + 7200L) / 600 * 600 * 1000)
        .select(col("window_start_ms"), col("pred_quality"),
          col("n_docs"))
        .as[(Long, Boolean, Long)].collect().toSet
      // batch twin: the oracled serve path + the same window rollup
      val twin = TextAnalysis.llrScoreWith(
          docs.toDF("doc_id", "text"), col("doc_id"), col("text"), model)
        .join(events.map { case (ts, id0, _) => (id0, ts) }
          .toDF("doc_id", "ts_s"), Seq("doc_id"))
        .select((expr("ts_s DIV 600") * 600 * 1000)
          .as("window_start_ms"), col("pred_quality"))
        .groupBy(col("window_start_ms"), col("pred_quality"))
        .agg(count(lit(1)).as("n_docs"))
        .as[(Long, Boolean, Long)].collect().toSet
      assert(streamed == twin && streamed.nonEmpty &&
        streamed.map(_._1).size >= 2,
        s"streamed $streamed vs batch $twin")
      // both quality classes appear (the monitor monitors a MIX)
      assert(streamed.map(_._2) == Set(true, false))
    } finally q.stop()
  }

  test("per-endpoint error rate: the session_window stream equals the " +
      "batch session form on inline lines — tied rules keep the lowest " +
      "index, and a 4xx with no method cannot bridge two sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.HttpHeuristics
    import graft.pipelines.HttpRequestPipeline
    def glb(ip: String, method: Option[String], path: String, sec: Int) = {
      val m = method.fold("")(x => s""""requestMethod":"$x",""")
      val t = java.time.Instant.ofEpochSecond(sec.toLong).toString
      s"""{"httpRequest":{$m"requestUrl":"https://h$path","status":404,"remoteIp":"$ip","userAgent":"ua"},"timestamp":"$t","logName":"projects/p/logs/l"}"""
    }
    // rules 0 and 1 tie on 10.0.0.1 (two errors each): rule 0 wins
    val rules = Seq(HttpHeuristics.ErrorRule("GET", "/y", 2),
      HttpHeuristics.ErrorRule("GET", "/x", 2),
      HttpHeuristics.ErrorRule("GET", "/b", 3))
    val tie = Seq(glb("10.0.0.1", Some("GET"), "/x", 1),
      glb("10.0.0.1", Some("GET"), "/y", 2),
      glb("10.0.0.1", Some("GET"), "/x", 3),
      glb("10.0.0.1", Some("GET"), "/y", 4))
    // 10.0.0.2: two /b errors, a 90 s quiet gap (> the 60 s session
    // gap), two more. The method-less 4xx at 55 s sits within 60 s of
    // both halves: kept, it would merge them into one 4-error session
    // over rule 2's threshold of 3
    val bridge = Seq(glb("10.0.0.2", Some("GET"), "/b", 0),
      glb("10.0.0.2", Some("GET"), "/b", 10),
      glb("10.0.0.2", None, "/b", 55),
      glb("10.0.0.2", Some("GET"), "/b", 100),
      glb("10.0.0.2", Some("GET"), "/b", 110))
    val flush = glb("203.0.113.9", Some("GET"), "/z", 3600)
    def errorsOf(ds: org.apache.spark.sql.Dataset[String]) =
      HttpRequestPipeline.parsedHttp(ds)
        .filter(col("normalized.requestStatus").between(400, 499))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("addr") =!= "203.0.113.9")
        .select(col("addr"), col("rule_path"), col("n_errors"),
          col("latest_error_ms"), col("window_max_ts_ms"))
        .as[(String, String, Long, Long, Long)].collect().toSet
    val in = MemoryStream[String]
    val q = Streaming.perEndpointErrorRateStream(
        errorsOf(in.toDS()), "timestamp", col("normalized.sourceAddress"),
        col("normalized.requestMethod"), col("normalized.urlRequestPath"),
        "60 seconds", "0 seconds", rules)
      .writeStream.format("memory").queryName("peerainline")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(tie ++ bridge: _*); q.processAllAvailable()
      in.addData(flush); q.processAllAvailable()
      val streamed = rows(spark.table("peerainline"))
      val batch = rows(HttpHeuristics.perEndpointErrorRateSessions(
        errorsOf((tie ++ bridge).toDS()), col("timestamp"),
        col("normalized.sourceAddress"), col("normalized.requestMethod"),
        col("normalized.urlRequestPath"), gapSeconds = 60, rules))
      assert(batch == Set(("10.0.0.1", "/y", 2L, 4000L, 63999L)),
        s"batch $batch")
      assert(streamed == batch, s"streamed $streamed vs batch $batch")
    } finally q.stop()
  }

  test("thresholdAlertStream: an onAlerts that never evaluates its " +
      "frame keeps the query alive across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.pipelines.HttpRequestPipeline
    def glb(ip: String, t: String) =
      s"""{"httpRequest":{"requestMethod":"GET","requestUrl":"https://h/x","status":200,"remoteIp":"$ip","userAgent":"ua"},"timestamp":"$t","logName":"projects/p/logs/l"}"""
    val in = MemoryStream[String]
    val q = HttpRequestPipeline.thresholdAlertStream(in.toDS(),
        HttpRequestPipeline.Config(), watermarkDelay = "30 seconds")(
        _ => ()).start()
    try {
      in.addData((0 until 5).map(i => glb(s"1.1.1.$i",
        f"2024-01-01T00:00:$i%02dZ")): _*)
      q.processAllAvailable()
      in.addData(glb("9.9.9.9", "2024-01-01T00:03:00Z"))
      q.processAllAvailable()
      assert(q.isActive && q.exception.isEmpty, s"${q.exception}")
    } finally q.stop()
  }

  test("keySkewStream: an onCards that never evaluates its frame keeps " +
      "the query alive across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000L
    val in = MemoryStream[(Long, Long)]
    val q = Streaming.keySkewStream(
        in.toDS().select(timestamp_seconds(col("_1")).as("ts"),
          col("_2").as("user_id")),
        "ts", col("user_id"), "10 minutes", "30 seconds")(_ => ()).start()
    try {
      in.addData((1 to 5).map(i => (t0 + i, i.toLong % 2)): _*)
      q.processAllAvailable()
      in.addData((t0 + 7200, 9L)) // closes the first window
      q.processAllAvailable()
      assert(q.isActive && q.exception.isEmpty, s"${q.exception}")
    } finally q.stop()
  }

  test("every foreachBatch epilogue runs its micro-batch's stateful plan " +
      "once: one state-store stage per batch, whatever the epilogue " +
      "evaluates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.scheduler.{SparkListener,
      SparkListenerStageCompleted, SparkListenerStageSubmitted}
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
    import graft.pipelines.{CustomsPipeline, HttpRequestPipeline}
    // completed stages carrying a StateStoreRDD, per (query id, batch
    // id): the streaming engine stamps both on every job a micro-batch
    // submits, the epilogue's jobs included
    val batchOf = scala.collection.mutable.Map[Int, (String, String)]()
    val counts = scala.collection.mutable.Map[(String, String), Int]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(e.properties).foreach { p =>
          val b = (p.getProperty("sql.streaming.queryId"),
            p.getProperty("streaming.sql.batchId"))
          if (b._1 != null && b._2 != null)
            batchOf.synchronized(batchOf(e.stageInfo.stageId) = b)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.failureReason.isEmpty &&
            e.stageInfo.rddInfos.exists(_.name.contains("StateStoreRDD")))
          batchOf.synchronized(batchOf.get(e.stageInfo.stageId)).foreach {
            b => counts.synchronized(counts(b) = counts.getOrElse(b, 0) + 1)
          }
    }
    def perBatch(name: String, writer: DataStreamWriter[Row],
        in: MemoryStream[String], batches: Seq[Seq[String]],
        out: scala.collection.mutable.ArrayBuffer[Row]): Unit = {
      val q: StreamingQuery = writer.start()
      try batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      val got = counts.synchronized(counts.collect {
        case ((id, b), n) if id == q.id.toString => b.toLong -> n }.toMap)
      assert(out.synchronized(out.nonEmpty), s"$name emitted nothing")
      assert(got.size >= batches.size && got.values.forall(_ == 1),
        s"$name: state-store stages per micro-batch $got")
    }
    def collecting(out: scala.collection.mutable.ArrayBuffer[Row])
        : DataFrame => Unit = df => {
      val rows = df.collect(); out.synchronized { out ++= rows } }
    spark.sparkContext.addSparkListener(listener)
    try {
      // enumeration: a window of 5 distinct emails and a content client,
      // closed by a later line (the gate's broadcast side, its main side
      // and the prune clock all read the finalized batch)
      val t = 1699999800L
      def authLine(tt: Long, email: String): String = {
        val iso = java.time.Instant.ofEpochSecond(tt).toString
        s"""{"insertId":"i","jsonPayload":{"EnvVersion":"2.0","Fields":{""" +
          s""""agent":"m","email":"$email","errno":0,"method":"post",""" +
          s""""op":"request.summary","path":"/v1/account/status",""" +
          s""""remoteAddressChain":"[\\"6.6.6.6\\"]","service":"sync",""" +
          s""""status":200,"t":12,"uid":"u"},"Logger":"fxa-auth-server",""" +
          s""""Pid":1,"Severity":6,"Timestamp":${tt}000000000,""" +
          s""""Type":"request.summary"},"timestamp":"$iso"}"""
      }
      val content =
        s"""{"Timestamp":${t}000000000,"Type":"request","Logger":"fxa-content-server",""" +
          s""""Hostname":"h","Fields":{"clientaddress":"7.7.7.7","path":"/s",""" +
          s""""method":"get","status":200}}"""
      val enumIn = MemoryStream[String]
      val enumOut = scala.collection.mutable.ArrayBuffer[Row]()
      perBatch("enumerationAlertStream",
        CustomsPipeline.enumerationAlertStream(enumIn.toDS(),
          CustomsPipeline.FullConfig(enumerationThreshold = 5,
            minVarianceClients = 1))(collecting(enumOut)),
        enumIn, Seq((0 until 5).map(i => authLine(t + i, s"e$i@x.com")) :+
          content, Seq(authLine(t + 5000, "z@x.com"))), enumOut)
      // threshold: five clients in one window, closed by a later request
      def glb(ip: String, ts: String) =
        s"""{"httpRequest":{"requestMethod":"GET","requestUrl":"https://h/x","status":200,"remoteIp":"$ip","userAgent":"ua"},"timestamp":"$ts","logName":"projects/p/logs/l"}"""
      val httpIn = MemoryStream[String]
      val httpOut = scala.collection.mutable.ArrayBuffer[Row]()
      perBatch("thresholdAlertStream",
        HttpRequestPipeline.thresholdAlertStream(httpIn.toDS(),
          HttpRequestPipeline.Config())(collecting(httpOut)),
        httpIn, Seq((0 until 5).map(i => glb(s"1.1.1.$i",
            f"2024-01-01T00:00:$i%02dZ")) ++
          (0 until 20).map(_ => glb("1.1.1.9", "2024-01-01T00:00:30Z")),
          Seq(glb("9.9.9.9", "2024-01-01T00:03:00Z"))), httpOut)
      // key skew: an onCards that collects, on a batch that finalizes
      // a window (the skip-when-empty probe reads the same batch)
      val skewIn = MemoryStream[String]
      val skewOut = scala.collection.mutable.ArrayBuffer[Row]()
      perBatch("keySkewStream",
        Streaming.keySkewStream(
          skewIn.toDS().select(
            timestamp_seconds(split(col("value"), ",")(0).cast("long"))
              .as("ts"),
            split(col("value"), ",")(1).cast("long").as("user_id")),
          "ts", col("user_id"), "10 minutes", "30 seconds")(
          collecting(skewOut)),
        skewIn, Seq((1 to 5).map(i => s"${1700000000L + i},${i % 2}"),
          Seq(s"${1700000000L + 7200},9")), skewOut)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
