package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Synthetic corpus scaler for the empirical scale probe
  * (tools/scale_probe.sh): replicates the sf0.1 documents and
  * embeddings tables k-fold so the heavy dedup/ANN/curation family
  * can be timed at 1x/3x/10x and its scaling exponents measured
  * rather than argued from plan shape.
  *
  * Replication discipline — the point is that a k-fold corpus should
  * carry ~k-fold near-dup STRUCTURE, not the same structure k times
  * deeper: a naive copy would hand every document k exact twins and
  * turn every pair-family query quadratically heavier BY DATA (a
  * 10-clique per original doc), which measures the corpus, not the
  * engine. So each copy is made pairwise-dissimilar by an ISOMETRY of
  * the original — a transformation that preserves every repetition
  * structure WITHIN the copy while making copies mutually disjoint:
  *  - documents: a per-copy substitution cipher on the letters (a
  *    seeded Fisher-Yates permutation of the alphabet; copy 0 is the
  *    identity). Lengths, whitespace and repetition structure are
  *    untouched at every granularity the engine analyzes (char
  *    k-gram, token, line, gear chunk), so similar docs stay exactly
  *    as similar within a copy, while any cross-copy n-gram
  *    containing a letter differs with overwhelming probability. (A first-cut per-token suffix
  *    scheme was NOT an isometry at the char-gram level: the injected
  *    suffix itself became a corpus-hot substring and manufactured a
  *    flat-hot fingerprint tail no real corpus has — it usefully
  *    exposed winnowingPairs' missing hot-fingerprint cap, but for
  *    exponent measurement the cipher is the honest instrument.)
  *  - embeddings: a per-copy cyclic shift of the vector components —
  *    the same idea in vector space, so intra-copy distances are
  *    untouched while cross-copy cosines fall to the random baseline.
  *  - events: per-copy id-space striding of user_id/event_id with
  *    timestamps, event types and values untouched — the honest
  *    100 TB shape for the events family: more traffic means MORE
  *    ACTORS with the same per-actor behavior, so keyed operators
  *    (sessions per user, enumeration per source, suppression per
  *    key) see k-fold key cardinality with identical per-key state
  *    depth, while the per-event_type distinct sets (the KMV/HLL
  *    sketch keys, which stay LOW-cardinality at any corpus size)
  *    legitimately grow k-fold — exactly the hot-key regime the
  *    bounded-aggregator claims are probed against.
  * Copy 0 is byte-identical to the source, so the 1x dir is the
  * original data re-laid-out by the same writer (like-for-like
  * timing).
  *
  * DEPTH mode (the inverse events axis, tools/depth_probe.sh):
  * breadth striding proves key CARDINALITY but never grows one key's
  * event count, so the per-key-linear family (session-window sorts,
  * suppression scans, sorted-group pairing) was only ever measured at
  * constant per-key depth — while the reference's real skew axis is a
  * mega-NAT IP or bot account concentrating k-fold traffic on ONE key
  * (its 45-min session windows are keyed by source address,
  * s/httprequest/HTTPRequest.java:151-163). Depth mode keeps user_id
  * UNCHANGED (constant actors) and replicates each event k-fold with
  * the copy's timestamp jittered by `copy` MILLISECONDS: every key
  * carries k-fold events inside the same session/window structure
  * (the jitter ceiling — k ms — is orders below any session gap or
  * window width, so boundaries do not move), events stay pairwise
  * distinct in (event_id, ts), and per-event_type distinct USER sets
  * stay constant. Documents and embeddings pass through unchanged
  * (the depth axis is an events-family probe; 1x text keeps regens
  * cheap and keeps any text query out of the measurement).
  *
  * SKEW mode (the key-distribution axis, tools/skew_probe.sh):
  * breadth, depth and length all grow VOLUME along some dimension but
  * keep the key distribution's SHAPE — breadth strides keys uniformly,
  * depth densifies every key by the same factor, so the per-key load
  * stays balanced and every probe so far has measured work, never
  * imbalance. The reference's remaining scale scenario is the one its
  * NAT detector exists for (s/httprequest/HTTPRequest.java — a
  * mega-NAT source address concentrating a large share of ALL traffic
  * on one key): constant volume, pathological distribution. Skew mode
  * keeps every table's ROW COUNT and content identical except that a
  * deterministic k PERCENT of events (selected by xxhash64(event_id),
  * so the choice is reproducible and uncorrelated with time or type)
  * have user_id reassigned to the designated hot key 0 — the mega-NAT
  * actor. k=0 is a byte-identical passthrough (the control point), so
  * any wall-time growth across k is PURE load-imbalance cost: the
  * hash-agg family should be immune (map-side partial combine
  * collapses the hot key per input partition before the exchange)
  * while the per-key-serial family (session sorts, suppression scans,
  * sorted-group pairing) degrades toward single-task time on the hot
  * key's share. Documents and embeddings pass through unchanged (the
  * skew axis is an events-family probe). Compose with depth mode for
  * a deep hot key: skew over a depth-mode output dir gives one key
  * k percent of (depthK x 100k) events.
  *
  * LENGTH mode (the document-length axis, tools/length_probe.sh):
  * breadth grows the corpus by DOCUMENT COUNT and depth by per-key
  * EVENT count, but neither ever grows text per document — the
  * per-row-text family (langId, BPE encode, winnowing, simhash,
  * stripHtml, chunking) had only ever seen sf-shaped (~KB) docs while
  * its real failure shape is one megadoc (concatenated logs, minified
  * JS) holding an O(doc-length) structure in a single row. Length
  * mode keeps the doc COUNT constant and makes each document the
  * space-joined concatenation of k CIPHER copies of itself (each copy
  * a distinct seeded substitution cipher, copy 0 the identity): k-fold
  * text per doc at the source's structural density, with no
  * manufactured cross-copy exact repetition (a naive k-fold
  * self-concatenation would make every shingle k times hotter and the
  * dedup family would measure that artifact, not length). Events and
  * embeddings pass through unchanged (the length axis is a text
  * probe).
  *
  * Usage: runMain graft.ScaleGen <srcSfDir> <outDir> <k>
  * [embK|depth|length|skew]
  */
object ScaleGen {

  /** The per-copy substitution cipher: a seeded Fisher-Yates
    * permutation of the alphabet (copy 0 is the identity — callers
    * special-case it). Shared by the breadth and length modes so a
    * length-mode copy is the SAME isometry breadth mode would apply. */
  private val alpha = "abcdefghijklmnopqrstuvwxyz"
  private def perm(i: Int): String = {
    val r = new scala.util.Random(i)
    r.shuffle(alpha.toList).mkString
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ScaleGen <srcSfDir> <outDir> <k> [embK|depth|length|skew]")
    val (srcDir, outDir, kStr) = (args(0), args(1), args(2))
    val spark = Session.local()
    val depth = args.length == 4 && args(3) == "depth"
    val docLength = args.length == 4 && args(3) == "length"
    val skew = args.length == 4 && args(3) == "skew"
    val embK =
      if (args.length == 4 && !depth && !docLength && !skew)
        Some(args(3).toInt)
      else None
    generate(spark, srcDir, outDir, kStr.toInt, embK, depth, docLength,
      skew)
    println(s"[scalegen] wrote " +
      (if (skew) s"${kStr}pct SKEW"
       else s"${kStr}x " +
         (if (depth) "DEPTH" else if (docLength) "LENGTH" else "breadth")) +
      s" corpus to $outDir" +
      embK.fold("")(e => s" (embeddings at ${e}x)"))
    spark.stop()
  }

  /** The generator body, session-agnostic (specs call this with the
    * shared test session — main owns session lifecycle).
    *
    * `embKOverride` caps the EMBEDDINGS replication independently of
    * the text: the cyclic-shift isometry has period = vector dim, so
    * the embeddings table cannot honestly exceed (dim − 1)-fold —
    * faking disjointness past that would manufacture near-identical
    * cross-copy vectors that no real corpus has. Text probes past
    * that bound (the cipher isometry has no such period) pass the cap
    * explicitly and probe only text queries against the output. */
  def generate(spark: SparkSession, srcDir: String, outDir: String,
      k: Int, embKOverride: Option[Int] = None,
      depth: Boolean = false, docLength: Boolean = false,
      skew: Boolean = false): Unit = {
    require(Seq(depth, docLength, skew).count(identity) <= 1,
      "depth, length and skew modes are exclusive")
    require(if (skew) k >= 0 else k >= 1,
      "k must be >= 1 (>= 0 for skew mode, where 0 is the control)")
    // the disjointness contract needs guarding, not assuming: ids
    // stride by 10M per copy (a collision would silently give one id
    // two different texts, corrupting every pair query downstream),
    // and the embedding shift has period = vector dim (copy `dim`
    // would be vector-identical to copy 0)
    val stride = 10000000L
    if (skew) {
      require(embKOverride.isEmpty, "embK is a breadth-mode knob")
      // k percent on ONE key is the regime under test; past 90 the
      // corpus is effectively single-key and the probe stops telling
      // the imbalance story (it becomes a one-task benchmark)
      require(k <= 90, s"skew k=$k percent exceeds the 90pct guard")
      sources.Tables.documents(spark, srcDir)
        .repartition(4)
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
      sources.Tables.embeddings(spark, srcDir)
        .repartition(2)
        .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
      // xxhash64(event_id) selects a reproducible, time- and
      // type-uncorrelated k percent of rows; their user_id collapses
      // onto key 0 (the mega-NAT actor — id 0 exists in every driver
      // corpus, so the hot key also keeps its own baseline traffic).
      // Everything else — row count, event ids, timestamps, types,
      // values — is byte-identical to the source, so the k=0 control
      // and any k share one physical layout and the only variable is
      // the key distribution's shape.
      sources.Tables.events(spark, srcDir)
        .withColumn("user_id",
          when(pmod(xxhash64(col("event_id")), lit(100L)) < k, lit(0L))
            .otherwise(col("user_id")))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/events.parquet")
      return
    }
    if (depth) {
      require(embKOverride.isEmpty, "embK is a breadth-mode knob")
      // jitter must stay far below every session gap / window width
      // the probed family uses (smallest: 120 s) so boundaries cannot
      // move: k MICROSECONDS per copy caps the jitter at 0.1 s for
      // k = 100000 — 3 orders under the smallest gap (the earlier
      // k-MILLISECOND jitter reached 99.999 s at the guard's limit,
      // 0.83x of the 120 s gap, violating the invariant it claimed)
      require(k <= 100000, s"depth k=$k would jitter past 0.1 s")
      sources.Tables.documents(spark, srcDir)
        .repartition(4)
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
      sources.Tables.embeddings(spark, srcDir)
        .repartition(2)
        .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
      val ev = sources.Tables.events(spark, srcDir)
      val evMax = ev.agg(max(col("event_id"))).head().getLong(0)
      require(evMax < stride,
        s"source event_id $evMax >= copy stride $stride")
      val copies = broadcast(spark.range(k).select(col("id").as("copy")))
      ev.crossJoin(copies)
        .select(
          (col("event_id") + col("copy") * stride).as("event_id"),
          expr("timestampadd(MICROSECOND, CAST(copy AS INT), ts)")
            .as("ts"),
          col("user_id"), // UNCHANGED: constant actors, k-fold depth
          col("event_type"), col("value"), col("props"))
        .repartition(4 * k)
        .write.mode("overwrite").parquet(s"$outDir/events.parquet")
      return
    }
    if (docLength) {
      require(embKOverride.isEmpty, "embK is a breadth-mode knob")
      // expression budget: k translate+concat branches per row; 1000
      // caps the plan at what codegen splits comfortably while
      // allowing 3 decades of length probing
      require(k <= 1000, s"length k=$k exceeds the expression budget")
      // constant doc COUNT, k-fold TEXT per doc: each document
      // becomes the space-joined concatenation of k cipher copies of
      // itself (copy 0 = identity — the 1x dir is the source text).
      // Per-copy ciphers keep the regime honest: a naive k-fold
      // self-concatenation would hand every document k-fold EXACT
      // internal repetition (every shingle k times hotter — the
      // dedup/winnowing family would measure that manufactured
      // structure, not length), while the cipher isometry preserves
      // each copy's internal repetition structure exactly and makes
      // the copies mutually gram-disjoint, so per-doc statistics grow
      // ~k-fold in VOLUME at the source's structural density — the
      // megadoc shape (concatenated logs, scraper-glued pages).
      val parts = (0 until k).map { i =>
        if (i == 0) col("text")
        else translate(col("text"), alpha + alpha.toUpperCase,
          perm(i) + perm(i).toUpperCase)
      }
      sources.Tables.documents(spark, srcDir)
        .select(col("doc_id"), concat_ws(" ", parts: _*).as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(4)
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
      sources.Tables.embeddings(spark, srcDir)
        .repartition(2)
        .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
      sources.Tables.events(spark, srcDir)
        .repartition(4)
        .write.mode("overwrite").parquet(s"$outDir/events.parquet")
      return
    }
    val idBounds = sources.Tables.documents(spark, srcDir)
      .agg(max(col("doc_id"))).head().getLong(0)
    require(idBounds < stride,
      s"source doc_id $idBounds >= copy stride $stride: copies would collide")
    val embStats = sources.Tables.embeddings(spark, srcDir)
      .agg(max(col("vec_id")), min(size(col("embedding"))))
      .head()
    require(embStats.getLong(0) < stride,
      s"source vec_id ${embStats.getLong(0)} >= copy stride $stride")
    val embK = embKOverride.getOrElse(k)
    require(embK >= 1 && embK <= k,
      s"embK=$embK must be in [1, k=$k]")
    require(embK < embStats.getInt(1),
      s"embK=$embK >= embedding dim ${embStats.getInt(1)}: the cyclic " +
        "shift would repeat and copies would stop being disjoint — " +
        "pass an explicit embK below the dim for text-only probes")
    val copies = broadcast(spark.range(k).select(col("id").as("copy")))
    val embCopies =
      broadcast(spark.range(embK).select(col("id").as("copy")))

    val shifted = (1 until k).foldLeft(
      when(col("copy") === 0, col("text"))) { case (acc, i) =>
      acc.when(col("copy") === i,
        translate(col("text"), alpha + alpha.toUpperCase,
          perm(i) + perm(i).toUpperCase))
    }.otherwise(col("text"))

    val docs = sources.Tables.documents(spark, srcDir)
    docs.crossJoin(copies)
      .select(
        (col("doc_id") + col("copy") * 10000000L).as("doc_id"),
        shifted.as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(4 * k)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = sources.Tables.embeddings(spark, srcDir)
    emb.crossJoin(embCopies)
      .select(
        (col("vec_id") + col("copy") * 10000000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> " +
          "element_at(embedding, (CAST(i + copy AS INT) % " +
          "size(embedding)) + 1))").as("embedding"),
        col("label"))
      .repartition(2 * embK)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    val ev = sources.Tables.events(spark, srcDir)
    val evBounds = ev.agg(max(col("event_id")), max(col("user_id"))).head()
    require(evBounds.getLong(0) < stride && evBounds.getLong(1) < stride,
      s"source event_id/user_id ${evBounds} >= copy stride $stride")
    ev.crossJoin(copies)
      .select(
        (col("event_id") + col("copy") * stride).as("event_id"),
        col("ts"),
        (col("user_id") + col("copy") * stride).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(4 * k)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
  }
}
