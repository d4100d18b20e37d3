package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora: exact,
  * MinHash+LSH, SimHash and n-gram Jaccard. The reference pipeline
  * dedupes events (`dropDuplicates` shapes, SURVEY.md §2.3); these
  * operators extend that to document-level near-duplicate detection
  * for training-data pipelines.
  *
  * Determinism: all hashing is built on `md5` (identical output across
  * engines), so every operator is oracle-checkable bit-for-bit against
  * an independent SQL engine. All math on similarity scores is exact
  * integer arithmetic followed by at most one IEEE division — order
  * independent, engine independent.
  *
  * Scale design (100 TB):
  *  - nothing here is all-pairs: candidate pairs come from equi-joins
  *    on shingle / band-bucket / simhash-band keys, so the shuffle is
  *    keyed and the blow-up is bounded by bucket width, not corpus²;
  *  - every stage is a plain groupBy/join over codegen'd built-ins
  *    (split/transform/md5/explode) — no UDFs, no driver collect;
  *  - hot buckets (stop-shingles) can be capped via `maxShingleFreq`,
  *    dropping shingles shared by more than N docs before the pair
  *    join — the standard frequency-cap trick for skew.
  */
object Dedup {

  /** Whitespace tokens, empties dropped; lower-cased.
    *
    * array_remove(…, "") is bit-identical to the former
    * `filter(_, t => length(t) > 0)` (split never yields nulls, so
    * dropping empties IS removing "") but stays inside whole-stage
    * codegen — ArrayFilter is a CodegenFallback higher-order function
    * that dispatches an interpreted lambda per token, and this
    * expression sits in the scan projection of every tokenizing
    * operator (shingles, BPE, quality, BM25, dsir, surprisal). */
  def tokens(text: Column): Column =
    array_remove(split(lower(text), " "), "")

  /** Distinct word n-gram shingles of the token array (docs shorter
    * than n tokens yield no shingles). Array form — convenient for
    * per-row use, but transform/slice are higher-order functions that
    * run interpreted; hot paths should use `explodedShingles`. */
  def shingles(text: Column, n: Int): Column = {
    val ws = tokens(text)
    val idx = sequence(lit(1), greatest(lit(0), size(ws) - (n - 1)))
    array_distinct(transform(idx, i => array_join(slice(ws, i, lit(n)), " ")))
  }

  /** Distinct (doc_id, shingle) rows via exploded positions — every
    * expression (element_at/concat_ws) is codegen'd, unlike the array
    * HOF form (measured ~5x on 5k docs). Near-dup operators read this
    * frame from multiple plan branches, so it materializes by default
    * at MEMORY_AND_DISK (spills, never OOMs). At 100 TB pass
    * `StorageLevel.NONE` to recompute per branch instead — the scan +
    * explode is cheap relative to holding the exploded corpus — or
    * checkpoint it to a table between stages.
    *
    * `carry` columns must be functionally dependent on the id (a
    * per-doc flag): they ride through the fan-out, the explode and
    * the dedup unchanged, after doc_id and before s, so a consumer
    * never joins the shingle set back to the doc frame for them. */
  def explodedShingles(df: DataFrame, id: Column, text: Column, n: Int,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
      carry: Seq[Column] = Nil): DataFrame = {
    // fanOutBy(doc_id): tokenize+explode+dedup all run at full
    // parallelism even from a one-row-group file, and the doc_id hash
    // partitioning already satisfies dropDuplicates(doc_id, s) — no
    // second shuffle
    val src = graft.sources.Tables.fanOutBy(
      df.select(id.as("doc_id") +: text.as("doc_text") +: carry: _*),
      col("doc_id"))
    val keep = col("doc_id") +: src.columns.drop(2).toSeq.map(col)
    val sh = src.select(keep :+ tokens(col("doc_text")).as("ws"): _*)
      .filter(size(col("ws")) >= n)
      .select(keep ++ Seq(col("ws"),
        explode(sequence(lit(1), size(col("ws")) - (n - 1))).as("i")): _*)
      .select(keep :+ concat_ws(" ",
          (0 until n).map(k => element_at(col("ws"), col("i") + k)): _*)
        .as("s"): _*)
      .dropDuplicates("doc_id", "s")
    if (storage == org.apache.spark.storage.StorageLevel.NONE) sh
    else sh.persist(storage)
  }

  /** Exact dedup: group identical texts by md5, keep the smallest id
    * as canonical. One hash-aggregate; the md5 key (not the full text)
    * is what shuffles, so shuffle payload is 32 bytes/doc regardless of
    * document size. */
  def exactDedup(df: DataFrame, id: Column, text: Column): DataFrame =
    df.groupBy(md5(text).as("text_hash"))
      .agg(min(id).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Template-level dedup — exact dedup on a NORMALIZED text (the
    * CCNet-style "lazy" normalization pass): digits, email addresses
    * and URLs are masked before hashing, so machine-generated pages
    * that differ ONLY in their entities (timestamps, ids, prices,
    * addresses) collapse into one template group. Exact dedup misses
    * these (every byte differs somewhere) and near-dup methods rank
    * them below real near-copies; masking makes them EXACTLY equal.
    *
    * Masking order matters and is fixed: URLs first (they contain
    * digits and dots), then emails, then digit runs — all ASCII-class
    * regexes, engine-portable like the PII set. Same one-hash-agg
    * shape as [[exactDedup]]: the 32-byte template hash is all that
    * shuffles.
    *
    * Output: (template_hash, canonical_id, n_copies) for groups with
    * at least `minCopies` members. */
  def templateDedup(df: DataFrame, id: Column, text: Column,
      minCopies: Long = 2): DataFrame = {
    val masked = regexp_replace(
      regexp_replace(
        regexp_replace(text,
          "https?://[^ ]+", "<URL>"),
        "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
      "[0-9]+", "<NUM>")
    df.groupBy(md5(masked).as("template_hash"))
      .agg(min(id).as("canonical_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") >= minCopies)
  }

  /** Unicode-equivalence dedup — exact dedup on the NFC-normalized
    * text: canonically-equivalent duplicates (composed U+00E9 vs
    * decomposed e+U+0301 — the classic artifact of scrapers that
    * differ in decoder normalization) byte-differ everywhere a
    * combining sequence appears, so [[exactDedup]] misses them, yet
    * every Unicode-aware renderer shows identical text. NFC is fully
    * determined by UAX #15, so the 32-byte hash is engine-portable
    * (DuckDB's `nfc_normalize` produces the same bytes — what makes
    * this oracle-able). Pass form="NFKC" for the aggressive variant
    * that also folds compatibility characters (ligatures, full-width
    * ASCII, circled digits).
    *
    * Same one-hash-agg shape as [[exactDedup]]: normalization runs in
    * the scan (native codegen expression, and mostly-ASCII text takes
    * the isNormalized fast path), and only the 32-byte hash shuffles.
    *
    * Output: (norm_hash, canonical_id, n_copies) for groups with at
    * least `minCopies` members. */
  def unicodeDedup(df: DataFrame, id: Column, text: Column,
      form: String = "NFC", minCopies: Long = 2): DataFrame =
    df.groupBy(md5(graft.functions.Functions.unicodeNormalize(text, form))
        .as("norm_hash"))
      .agg(min(id).as("canonical_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") >= minCopies)

  /** The one overlap kernel under [[ngramJaccardPairs]],
    * [[containmentPairs]] and [[overlapMeasures]]: explode distinct
    * shingles, drop corpus-hot shingles (skew cap, broadcast
    * anti-join), self-join on the shingle (only docs sharing at least
    * one shingle ever pair up — never all-pairs), count shared, and
    * attach both set sizes. Every overlap MEASURE (jaccard,
    * containment, …) is a pure projection of this one
    * (doc_a, doc_b, shared, n_a, n_b) frame — so the shingle
    * equi-join, the family's only corpus-sized shuffle, is written
    * (and skew-capped) exactly once.
    *
    * `maxShingleFreq` drops shingles occurring in more than that many
    * docs before the join (0 = keep all). Sizes are computed on the
    * UNcapped shingle sets, so the measures stay exact for every pair
    * the cap lets through. */
  private def shingleOverlapCounts(df: DataFrame, id: Column, text: Column,
      n: Int, maxShingleFreq: Long,
      storage: org.apache.spark.storage.StorageLevel): DataFrame = {
    val sh = explodedShingles(df, id, text, n, storage)
    val filtered =
      if (maxShingleFreq > 0) {
        val hot = sh.groupBy(col("s")).agg(count(lit(1)).as("f"))
          .filter(col("f") > maxShingleFreq).select(col("s"))
        sh.join(broadcast(hot), Seq("s"), "left_anti")
      } else sh
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val a = filtered.select(col("doc_id").as("doc_a"), col("s"))
    val b = filtered.select(col("doc_id").as("doc_b"), col("s"))
    a.join(b, Seq("s")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), Seq("doc_b"))
  }

  /** Exact n-gram Jaccard near-dup pairs via the sparse inverted-index
    * join ([[shingleOverlapCounts]]):
    * jaccard = shared / (|A| + |B| - shared).
    *
    * `maxShingleFreq` drops shingles occurring in more than that many
    * docs before the join (skew cap; 0 = keep all).
    */
  def ngramJaccardPairs(df: DataFrame, id: Column, text: Column, n: Int,
      minJaccard: Double, maxShingleFreq: Long = 0,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame =
    shingleOverlapCounts(df, id, text, n, maxShingleFreq, storage)
      .withColumn("jaccard",
        col("shared") / (col("n_a") + col("n_b") - col("shared")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("shared"), col("jaccard"))

  /** Containment pairs (Broder 1997's second resemblance measure:
    * c(A,B) = |S(A) ∩ S(B)| / |S(A)|) — detects when one document is
    * (nearly) CONTAINED in another: quote-heavy pages, aggregator
    * pages wrapping a full article, a doc plus boilerplate. Jaccard
    * misses exactly these — a 100-shingle doc inside a 2000-shingle
    * page has jaccard ≤ 0.05 but containment 1.0 — so a dedup pass
    * keyed only on resemblance keeps the wrapped copy.
    *
    * Emitted per pair: containment of the SMALLER shingle set in the
    * larger (the direction that can approach 1), with `contained_doc`
    * naming the smaller doc (ties → doc_a, the lower id). Same
    * kernel as [[ngramJaccardPairs]] ([[shingleOverlapCounts]]): the
    * shingle equi-join is the only corpus-sized shuffle, never
    * all-pairs.
    *
    * Output: (doc_a, doc_b, shared, contained_doc, containment). */
  def containmentPairs(df: DataFrame, id: Column, text: Column, n: Int,
      minContainment: Double, maxShingleFreq: Long = 0,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame =
    shingleOverlapCounts(df, id, text, n, maxShingleFreq, storage)
      .withColumn("contained_doc",
        when(col("n_a") <= col("n_b"), col("doc_a")).otherwise(col("doc_b")))
      .withColumn("containment",
        col("shared") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= minContainment)
      .select(col("doc_a"), col("doc_b"), col("shared"),
        col("contained_doc"), col("containment"))

  /** Both Broder measures from ONE pass over the overlap kernel —
    * the frame SCALING.md promised was derivable "at zero extra
    * shuffle": every pair clearing EITHER bar, with resemblance and
    * containment side by side so a curation policy can branch on
    * which signal fired (near-identical twin vs wrapped copy)
    * without a second shingle join.
    *
    * Output: (doc_a, doc_b, shared, jaccard, contained_doc,
    * containment). */
  def overlapMeasures(df: DataFrame, id: Column, text: Column, n: Int,
      minJaccard: Double, minContainment: Double,
      maxShingleFreq: Long = 0,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame =
    shingleOverlapCounts(df, id, text, n, maxShingleFreq, storage)
      .withColumn("jaccard",
        col("shared") / (col("n_a") + col("n_b") - col("shared")))
      .withColumn("contained_doc",
        when(col("n_a") <= col("n_b"), col("doc_a")).otherwise(col("doc_b")))
      .withColumn("containment",
        col("shared") / least(col("n_a"), col("n_b")))
      .filter(col("jaccard") >= minJaccard ||
        col("containment") >= minContainment)
      .select(col("doc_a"), col("doc_b"), col("shared"), col("jaccard"),
        col("contained_doc"), col("containment"))

  /** Exact substring-level duplication sweep — the character-window
    * member of the dedup family (the protocol of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better":
    * ExactSubstr): fingerprint every `windowSize`-char window at
    * `stride` offsets and report document pairs sharing at least
    * `minShared` identical windows. Catches verbatim passage reuse
    * that document-level exact dedup misses (a copied paragraph inside
    * an otherwise-unique page) and that MinHash dilutes (shared text
    * small relative to both docs).
    *
    * Scale shape: where the paper builds ONE monolithic suffix array
    * over the corpus (impossible at 100 TB without partitioning
    * anyway), the distributed form is an inverted index on window
    * fingerprints — the same never-all-pairs contract as the other
    * near-dup operators. Window explode + substring + md5 is a narrow
    * codegen'd projection over the scan; the only shuffles are the
    * fingerprint equi-join and the (doc_a, doc_b) count, both keyed
    * far narrower than the text (which never rides past the window
    * projection). `maxWindowFreq` caps hot windows (boilerplate
    * headers shared by k docs cost k² pairs): windows above the cap
    * are dropped by a broadcast anti-join, exactly like
    * [[ngramJaccardPairs]]'s hot-shingle cap. */
  def sharedSubstringPairs(df: DataFrame, id: Column, text: Column,
      windowSize: Int = 50, stride: Int = 25, minShared: Long = 1,
      maxWindowFreq: Long = 0): DataFrame = {
    require(windowSize > 0 && stride > 0)
    val t = col("t")
    val windows = graft.sources.Tables
      .fanOut(df.select(id.as("doc_id"), text.as("t")))
      .filter(length(t) >= windowSize)
      .select(col("doc_id"), explode(sequence(lit(0),
        floor((length(t) - windowSize) / stride).cast("int"))).as("i"), t)
      .select(col("doc_id"),
        md5(t.substr(col("i") * stride + 1, lit(windowSize))).as("h"))
    val filtered =
      if (maxWindowFreq > 0) {
        val hot = windows.groupBy(col("h")).agg(count(lit(1)).as("f"))
          .filter(col("f") > maxWindowFreq).select(col("h"))
        windows.join(broadcast(hot), Seq("h"), "left_anti")
      } else windows
    val a = filtered.select(col("doc_id").as("doc_a"), col("h"))
    val b = filtered.select(col("doc_id").as("doc_b"), col("h"))
    a.join(b, Seq("h")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_windows"))
      .filter(col("n_shared_windows") >= minShared)
  }

  /** Corpus-level line deduplication — the RefinedWeb/CCNet cleaning
    * pass that removes boilerplate LINES repeated across the corpus
    * (nav menus, cookie banners, footers) while keeping each document
    * otherwise intact. A non-empty line is dropped from every document
    * when its corpus-wide frequency exceeds `maxLineFreq`; lines
    * shorter than `minLineChars` are exempt (always kept) — short
    * generic lines ("---", section numbers) would otherwise gut
    * unrelated documents.
    *
    * Output: one row per input document — (doc_id, n_lines, n_kept,
    * n_dropped, cleaned_text), cleaned_text = kept lines joined by \n
    * in original order (empty string when nothing survives; documents
    * with no non-empty lines pass through with zero counts).
    *
    * Scale shape: line explode + md5 is a narrow codegen'd projection;
    * the frequency table is ONE hash aggregate on the 32-byte line
    * hash; membership is an equi-join on that hash (the duplicated-line
    * set is corpus-sized, so no broadcast is assumed — unlike the
    * hot-shingle caps, which prune a small TOP set); reassembly is one
    * doc_id-keyed aggregate. Line text crosses the shuffle twice (hash
    * join + reassembly agg) — the 100 TB path is
    * [[lineDedupPatches]] + [[applyLinePatches]], which makes the SAME
    * drop decisions while shuffling only (doc_id, line_no) pairs and
    * rewriting text map-side in the next stage's scan. */
  def lineDedup(df: DataFrame, id: Column, text: Column,
      maxLineFreq: Long = 1, minLineChars: Int = 0): DataFrame = {
    require(maxLineFreq >= 1, "maxLineFreq must be >= 1")
    val src = graft.sources.Tables.fanOutBy(
      df.select(id.as("doc_id"), text.as("doc_text")), col("doc_id"))
    val lines = src
      .select(col("doc_id"),
        posexplode(filter(split(col("doc_text"), "\n"), l => length(l) > 0)))
      .select(col("doc_id"), col("pos").cast("long").as("line_no"),
        col("col").as("line"))
      .withColumn("h", md5(col("line")))
    val hot = lines.groupBy(col("h")).agg(count(lit(1)).as("f"))
      .filter(col("f") > maxLineFreq)
    val kept = lines.join(hot, Seq("h"), "left")
      .withColumn("keep",
        col("f").isNull || length(col("line")) < minLineChars)
    val perDoc = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws("\n", transform(
          array_sort(collect_list(
            when(col("keep"), struct(col("line_no"), col("line"))))),
          s => s.getField("line"))).as("cleaned_text"))
    // collect_list drops the nulls from non-kept lines, so the sorted
    // struct list holds exactly the survivors in original order
    src.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("n_lines"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }

  /** The 100 TB step-up of [[lineDedup]] (the one SCALING.md
    * documents): identical drop DECISIONS, but only (doc_id, line_no)
    * pairs cross the shuffle. [[lineDedup]] ships line TEXT through
    * two exchanges — roughly the corpus volume, twice. Here the line
    * projection keeps only the 32-hex-char line hash plus the
    * length-exemption bit; hot-line membership is a semi-join on the
    * hash; and the patch aggregate collects dropped line numbers per
    * doc — the widest shuffled payload is a (doc_id, line_no) pair.
    * Text is rewritten map-side by [[applyLinePatches]] inside the
    * scan of the NEXT pipeline stage, which reads the text anyway.
    *
    * Output: (doc_id, dropped_nos: sorted array<long> of 0-based
    * non-empty-line ordinals) — only docs with at least one dropped
    * line appear. The patch table is typically a small fraction of
    * the corpus (often broadcastable into the apply scan); the apply
    * join never assumes it. */
  def lineDedupPatches(df: DataFrame, id: Column, text: Column,
      maxLineFreq: Long = 1, minLineChars: Int = 0): DataFrame = {
    require(maxLineFreq >= 1, "maxLineFreq must be >= 1")
    // no fanOutBy here, deliberately: the bench-scale fan-out
    // repartition would shuffle the doc text — the one thing this
    // path exists to avoid; the hash projection is map-only and the
    // freq/patch aggregates redistribute on their own keys
    val lines = df.select(id.as("doc_id"), text.as("doc_text"))
      .select(col("doc_id"),
        posexplode(filter(split(col("doc_text"), "\n"), l => length(l) > 0)))
      .select(col("doc_id"), col("pos").cast("long").as("line_no"),
        md5(col("col")).as("h"),
        (length(col("col")) < minLineChars).as("exempt"))
    val hot = lines.groupBy(col("h")).agg(count(lit(1)).as("f"))
      .filter(col("f") > maxLineFreq).select(col("h"))
    lines.filter(!col("exempt"))
      .join(hot, Seq("h"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("line_no"))).as("dropped_nos"))
  }

  /** Apply [[lineDedupPatches]] patch sets during a scan of the doc
    * frame: one doc-keyed left join (text crosses at most ONE
    * exchange, zero when the patch table broadcasts) plus a map-only
    * indexed-filter rebuild. Output schema identical to [[lineDedup]]:
    * (doc_id, n_lines, n_kept, n_dropped, cleaned_text). */
  def applyLinePatches(df: DataFrame, id: Column, text: Column,
      patches: DataFrame): DataFrame =
    df.select(id.as("doc_id"), text.as("doc_text"))
      .join(patches, Seq("doc_id"), "left")
      // null text must yield (0, 0, 0, '') exactly like lineDedup's
      // left-join coalesce does, so the drop-in swap contract holds
      .withColumn("lines",
        filter(split(coalesce(col("doc_text"), lit("")), "\n"),
          l => length(l) > 0))
      .withColumn("n_dropped",
        when(col("dropped_nos").isNull, 0L)
          .otherwise(size(col("dropped_nos")).cast("long")))
      .select(col("doc_id"),
        size(col("lines")).cast("long").as("n_lines"),
        (size(col("lines")) - col("n_dropped")).cast("long").as("n_kept"),
        col("n_dropped"),
        concat_ws("\n", filter(col("lines"), (l, i) =>
          col("dropped_nos").isNull ||
            !array_contains(col("dropped_nos"), i.cast("long"))))
          .as("cleaned_text"))

  /** [[lineDedup]] behind the patch-set path — same signature, same
    * output, for swapping the scale shape in without touching
    * callers. */
  def lineDedupViaPatches(df: DataFrame, id: Column, text: Column,
      maxLineFreq: Long = 1, minLineChars: Int = 0): DataFrame =
    applyLinePatches(df, id, text,
      lineDedupPatches(df, id, text, maxLineFreq, minLineChars))

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD
    * 2003 — the MOSS algorithm; public method): hash every character
    * `k`-gram of the lower-cased text, slide a window of `w`
    * consecutive hashes, and keep the minimum hash of each window.
    * The paper's guarantee: any shared substring of length >= k+w-1
    * yields at least one shared fingerprint, while the fingerprint
    * DENSITY is ~2/(w+1) of all k-grams — the principled sparse
    * sampling that stride-based fingerprinting
    * ([[sharedSubstringPairs]]) approximates ad hoc. Fingerprints are
    * the distinct selected hash VALUES per document (tie positions
    * inside a window don't change the value set, keeping the
    * selection engine-portable).
    *
    * Scale shape: MAP-ONLY. The selection is a pure per-document
    * function, so it runs as one native codegen'd expression
    * ([[graft.functions.WinnowFpExpr]] — an O(n) monotone-deque pass,
    * the [[graft.functions.GearCutsExpr]] pattern) fused into the
    * scan; only the 8-byte fingerprints leave the projection, and the
    * pair sweep is the family's inverted-index equi-join on the
    * fingerprint value — never all-pairs. (The previous declarative
    * form — explode one row per character + min().over(a doc-keyed
    * Window) — shuffled ~30× the corpus text volume through the
    * Window's hash(doc_id) exchange once the bench-scale fan-out
    * pre-partition no-ops at cluster scale.) */
  def winnowingFingerprints(df: DataFrame, id: Column, text: Column,
      k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1)
    import org.apache.spark.sql.graft.ColumnBridge
    // fanOut: the per-gram md5 work is the operator's whole cost, and
    // an unsplittable bench-scale file would run it as ONE task; at
    // cluster scale (scan splits >= cores) this is a designed no-op
    // and the operator stays map-only
    graft.sources.Tables.fanOut(df.select(id.as("doc_id"), text.as("t")))
      .select(col("doc_id"),
        explode(ColumnBridge.column(graft.functions.WinnowFpExpr(
          ColumnBridge.expression(lower(col("t"))), k, w))).as("mh"))
  }

  /** Document pairs sharing at least `minShared` winnowing
    * fingerprints — the MOSS match sweep as the family's standard
    * inverted-index join, with the family's standard hot-bucket cap:
    * fingerprints present in more than `maxFpFreq` documents are
    * excluded BEFORE the self-join. Semantically this is what the
    * deployed MOSS service does (matches common to many submissions
    * are boilerplate, not copying — Schleimer et al. §5 discuss
    * dropping overly-common fingerprints); operationally it is the
    * same quadratic-bucket bound as the shingle/band caps — without
    * it one corpus-wide boilerplate fingerprint (a license header, a
    * template footer) turns the join into d² pairs. The round-10
    * scale probe measured exactly that cliff: k^1.5 growth on a
    * corpus with suffix-hot grams, restored to ~linear by the cap. */
  def winnowingPairs(df: DataFrame, id: Column, text: Column,
      k: Int = 8, w: Int = 4, minShared: Long = 2,
      maxFpFreq: Long = 256): DataFrame = {
    require(maxFpFreq >= 1, "maxFpFreq must be >= 1")
    // posting-list form of the inverted-index sweep: ONE aggregate
    // groups each fingerprint's doc list (the kernel lineage runs
    // once — a fp-keyed SELF-join would re-derive it per branch), the
    // cap is a free size() filter on the grouped row, and surviving
    // buckets explode into pairs map-side (bounded by cap² per
    // bucket). The list buffer for a hot value is bounded by that
    // value's doc count before the filter drops it — spill-backed by
    // ObjectHashAggregate, and a value hot enough to matter is
    // dropped anyway; corpora where even buffering is a concern can
    // pre-screen with the two-pass broadcast-anti form the band cap
    // uses (minhashLshPairs).
    val fp = winnowingFingerprints(df, id, text, k, w)
    val grouped = fp.groupBy(col("mh"))
      .agg(collect_list(col("doc_id")).as("docs"))
      .filter(size(col("docs")) between (2, maxFpFreq))
    grouped.select(explode(col("docs")).as("doc_a"), col("docs"))
      .select(col("doc_a"), explode(col("docs")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .filter(col("n_shared_fp") >= minShared)
  }

  /** The chunked-minhash signature ARRAY per doc — the signature
    * scheme [[minhashLshPairs]] documents, factored out so the
    * symmetric (corpus self-join) and asymmetric
    * ([[incrementalIngest]] new-vs-corpus) candidate joins share one
    * pipeline: shingles are exploded and hashed in a flat codegen'd
    * projection (numHashes/8 md5 calls per shingle, each 32-hex
    * digest sliced into 8 independent 16-bit chunks), then ONE hash
    * aggregate with numHashes `min` buffers per doc.
    * Output: (doc_id, sig: Array[String] of numHashes 4-hex mins). */
  def minhashSigArray(df: DataFrame, id: Column, text: Column, n: Int,
      numHashes: Int,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(numHashes % 8 == 0, "numHashes must be a multiple of 8 (md5 chunks)")
    val groups = numHashes / 8
    val perShingle = explodedShingles(df, id, text, n, storage)
      .select(col("doc_id"),
        concat((1 to groups).map(g => md5(concat(lit(s"$g:"), col("s")))): _*)
          .as("h"))
    val minCols = (0 until numHashes).map(k =>
      min(substring(col("h"), k * 4 + 1, 4)).as(s"s$k"))
    perShingle.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(k => col(s"s$k")): _*).as("sig"))
  }

  /** Band explosion over a [[minhashSigArray]] frame: `bands` rows per
    * doc, each carrying the md5 of its signature slice as the bucket
    * key. Preserves every other column (the asymmetric join keeps its
    * is_new flag through here). */
  /** Positional signature agreement count — the native codegen loop
    * ([[graft.functions.SigMatchExpr]]), bit-identical to the former
    * `size(filter(zip_with(a, b, _ === _), x => x))` where zip_with
    * and filter are CodegenFallback higher-order functions paying two
    * interpreted lambda dispatches per hash per candidate pair — the
    * inner loop of every minhash verification. */
  private def sigMatchCount(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.SigMatchExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  def bandedSigs(sigArr: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    sigArr.select(col("*"), explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bkey",
        md5(concat_ws("|", slice(col("sig"), col("band") * rows + 1, lit(rows)))))
  }

  /** MinHash + LSH near-dup candidate pairs. Signatures are banded
    * (`bands` bands of `numHashes/bands` rows); docs sharing any band
    * key become candidates (equi-join on the band bucket — never
    * all-pairs); candidates are then scored by full-signature
    * agreement: est_jaccard = matching sigs / numHashes.
    *
    * Signature scheme (chunked minhash): each shingle is hashed ONCE
    * per md5-group (numHashes/8 groups) and the 32-hex digest is
    * sliced into 8 independent 4-hex (16-bit) chunks — one md5 yields
    * 8 permutations, so the hash cost is numHashes/8 md5 calls per
    * shingle instead of numHashes (md5 is the expensive part: these
    * nested higher-order functions run interpreted, not codegen'd).
    * 16-bit minhashes are statistically fine here: for ~100-shingle
    * docs, P(two unrelated docs' 16-bit mins collide) ≈ n/2M ≈ 0.1%,
    * far below any useful est_jaccard threshold, and a 2-row band key
    * has ~1e-6 chance collision.
    *
    * Execution shape: shingles are EXPLODED and hashed in a flat
    * codegen'd projection, then the signature is one hash aggregate
    * with numHashes `min` buffers per doc (single shuffle on doc_id).
    * This deliberately avoids computing the signature with nested
    * array lambdas (transform/array_min): higher-order functions run
    * interpreted, and the lambda-invocation overhead measured ~10x
    * slower than the exploded codegen pipeline for the same md5 count.
    *
    * The signature frame is cached: the band self-join reads it from
    * both sides; without the cache Catalyst re-evaluates the hash
    * pipeline once per side. Footprint is numHashes*4 bytes + key per
    * doc. */
  def minhashLshPairs(df: DataFrame, id: Column, text: Column, n: Int,
      numHashes: Int, bands: Int, minEstJaccard: Double,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
      maxBandFreq: Long = 0): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // signature frame: read by both sides of the band self-join. Same
    // storage policy as the shingle frame — MEMORY_AND_DISK spills
    // rather than OOMs; pass StorageLevel.NONE at corpus scale to
    // recompute per branch (numHashes*4 bytes + key per doc)
    val sigArr0 = minhashSigArray(df, id, text, n, numHashes, storage)
    val sigArr =
      if (storage == org.apache.spark.storage.StorageLevel.NONE) sigArr0
      else sigArr0.persist(storage)
    val banded0 = bandedSigs(sigArr.select(col("doc_id"), col("sig")),
      numHashes, bands)
    // hot-band cap — the band-join twin of the hot-shingle cap: k
    // docs in one band bucket cost k² candidate pairs, and a real
    // corpus HAS such buckets (boilerplate-identical pages, empty-ish
    // docs sharing a degenerate signature). Buckets above the cap are
    // dropped by a broadcast anti-join (≤ corpus/maxBandFreq entries
    // BY DEFINITION of hot — the hot list is small because its
    // members aren't); conservative like every cap here: an
    // uncompared doc is kept, never wrongly dropped, and a genuinely
    // near-dup pair in a dropped bucket still has bands-1 other
    // chances to collide. 0 = off (the oracle-checked default).
    val banded =
      if (maxBandFreq > 0) {
        val hot = banded0.groupBy(col("band"), col("bkey"))
          .agg(count(lit(1)).as("f")).filter(col("f") > maxBandFreq)
          .select(col("band"), col("bkey"))
        banded0.join(broadcast(hot), Seq("band", "bkey"), "left_anti")
      } else banded0
    val cand = banded.alias("x").join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.sig").as("sig_a"), col("y.sig").as("sig_b"))
      .dropDuplicates("doc_a", "doc_b")
    cand
      .withColumn("n_match",
        sigMatchCount(col("sig_a"), col("sig_b")))
      .withColumn("est_jaccard", col("n_match") / lit(numHashes.toDouble))
      .filter(col("est_jaccard") >= minEstJaccard)
      .select(col("doc_a"), col("doc_b"), col("n_match").cast("long").as("n_match"),
        col("est_jaccard"))
  }

  /** Cross-source duplication matrix — provenance analytics over any
    * pair frame: which sources duplicate WHICH (mirror sites,
    * aggregators republishing a feed, one crawl seeded from another).
    * Pairs are labeled with their members' strata (unordered, so
    * (a,b) and (b,a) land in one cell: the lexicographically smaller
    * stratum is `src_a`) and counted; `n_internal` pairs
    * (same-stratum) measure within-source redundancy, the
    * off-diagonal cells measure cross-source copying — the number a
    * licensing/provenance review starts from.
    *
    * Scale: two doc-keyed joins of the (doc_id, stratum) map onto the
    * pair frame (narrow by construction) + one hash aggregate on the
    * (src_a, src_b) cell — strata²-bounded output.
    *
    * Output: (src_a, src_b, n_pairs). */
  def sourcePairMatrix(pairs: DataFrame, strata: DataFrame,
      id: Column, stratum: Column): DataFrame = {
    val m = strata.select(id.as("doc_id"), stratum.as("s"))
    pairs.select(col("doc_a"), col("doc_b"))
      .join(m.select(col("doc_id").as("doc_a"), col("s").as("sa")),
        Seq("doc_a"))
      .join(m.select(col("doc_id").as("doc_b"), col("s").as("sb")),
        Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Incremental ingestion gate: dedup a NEW batch of documents
    * against an EXISTING corpus without ever comparing the corpus to
    * itself — the continuous-crawl shape, where the corpus was
    * deduped when it was ingested and each incoming batch only needs
    * checking AGAINST it.
    *
    * Two screens per new doc, the standard ingestion discipline:
    *  - exact: content-md5 membership against the old side (a hash
    *    equi-join — at deployment scale the corpus hash set is a
    *    stored table, not recomputed);
    *  - near: the [[minhashLshPairs]] banded candidate join made
    *    ASYMMETRIC — new-side band rows join old-side band rows only,
    *    so candidate volume is |new|·(bucket density), never
    *    |corpus|²; the corpus side is scanned once to band it and
    *    never self-pairs. The best match per new doc is a `max_by`
    *    hash aggregate on (n_match, −old_id) — highest signature
    *    agreement, ties to the lowest old id; no window rank.
    *
    * Output: one row per NEW doc — (doc_id, exact_dup, near_dup_of,
    * n_match, est_jaccard, keep) with null match columns and
    * keep=true for novel docs. */
  def incrementalIngest(df: DataFrame, id: Column, text: Column,
      isNew: Column, n: Int, numHashes: Int, bands: Int,
      minEstJaccard: Double,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val base = df.select(id.as("doc_id"), text.as("t"),
      isNew.cast("boolean").as("is_new"))
    val exact = base.filter(col("is_new"))
      .select(col("doc_id"), md5(col("t")).as("chash"))
      .join(base.filter(!col("is_new"))
          .select(md5(col("t")).as("chash")).distinct()
          .withColumn("hit", lit(true)),
        Seq("chash"), "left")
      .select(col("doc_id"), coalesce(col("hit"), lit(false)).as("exact_dup"))
    val sigs0 = minhashSigArray(base, col("doc_id"), col("t"), n,
        numHashes, storage)
      .join(base.select(col("doc_id"), col("is_new")), Seq("doc_id"))
    val sigs =
      if (storage == org.apache.spark.storage.StorageLevel.NONE) sigs0
      else sigs0.persist(storage)
    val banded = bandedSigs(
      sigs.select(col("doc_id"), col("is_new"), col("sig")),
      numHashes, bands)
    val cand = banded.filter(col("is_new")).alias("x")
      .join(banded.filter(!col("is_new")).alias("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("old_id"),
        col("x.sig").as("sig_a"), col("y.sig").as("sig_b"))
      .dropDuplicates("doc_id", "old_id")
    val best = cand
      .withColumn("n_match",
        sigMatchCount(col("sig_a"), col("sig_b")).cast("long"))
      .withColumn("est_jaccard", col("n_match") / lit(numHashes.toDouble))
      .filter(col("est_jaccard") >= minEstJaccard)
      .groupBy(col("doc_id"))
      .agg(max_by(struct(col("old_id"), col("n_match"), col("est_jaccard")),
        struct(col("n_match"), -col("old_id"))).as("b"))
      .select(col("doc_id"), col("b.old_id").as("near_dup_of"),
        col("b.n_match").as("n_match"), col("b.est_jaccard").as("est_jaccard"))
    exact.join(best, Seq("doc_id"), "left")
      .withColumn("keep", !col("exact_dup") && col("near_dup_of").isNull)
  }

  /** 32-bit SimHash over unigram tokens weighted by term frequency.
    * Bit j of a token's hash is extracted from hex digit j/4 of
    * md5(token); the simhash bit is the sign of the tf-weighted ±1 sum.
    * Emitted as a non-negative INT-range BIGINT. */
  def simhash(df: DataFrame, id: Column, text: Column): DataFrame = {
    // doc_id fan-out (see explodedShingles): every groupBy below keys on
    // a superset of doc_id, so the whole simhash pipeline runs shuffle-
    // free after this one sub-megabyte exchange
    val src = graft.sources.Tables.fanOutBy(
      df.select(id.as("doc_id"), text.as("doc_text")), col("doc_id"))
    val tf = src.select(col("doc_id"), explode(tokens(col("doc_text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("w"))
      .withColumn("h", md5(col("tok")))
    val bits = tf.select(col("doc_id"), col("w"), col("h"),
        explode(sequence(lit(0), lit(31))).as("j"))
      .withColumn("digit",
        locate_digit(substring(col("h"), (col("j") / 4).cast("int") + 1, lit(1))))
      .withColumn("divisor",
        element_at(typedLit(Seq(8, 4, 2, 1)), pmod(col("j"), lit(4)) + 1))
      .withColumn("bit", pmod((col("digit") / col("divisor")).cast("int"), lit(2)))
      .groupBy(col("doc_id"), col("j"))
      .agg(sum((col("bit") * 2 - 1) * col("w")).as("v"))
      .withColumn("simbit", when(col("v") > 0, 1L).otherwise(0L))
    bits.groupBy(col("doc_id"))
      .agg(sum(col("simbit") * pow(lit(2.0), col("j")).cast("long"))
        .as("simhash"))
  }

  /** Hex digit -> 0..15 (shared by simhash + oracle SQL mirror). */
  private def locate_digit(ch: Column): Column =
    call_function("locate", ch, lit("0123456789abcdef")) - 1

  /** SimHash near-dup pairs: candidates from exact agreement on any of
    * four 8-bit bands (equi-join, never all-pairs), verified by full
    * 32-bit hamming distance <= maxHamming. */
  def simhashPairs(df: DataFrame, id: Column, text: Column,
      maxHamming: Int): DataFrame = {
    val sh = simhash(df, id, text)
    val banded = sh.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bkey",
        pmod((col("simhash") / pow(lit(2.0), col("band") * 8).cast("long")).cast("long"),
          lit(256L)))
    val cand = banded.alias("x").join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("h_a"), col("y.simhash").as("h_b"))
      .dropDuplicates("doc_a", "doc_b")
    cand.withColumn("hamming",
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** URL canonicalization for URL-level dedup: drop the fragment,
    * lowercase scheme and host (path case preserved), strip trailing
    * slashes, drop `utm_*` tracking parameters and sort the remaining
    * query parameters. Pure string built-ins, engine-portable (the
    * oracle spells the identical steps). The small array HOFs here
    * run once per document over short query strings — not a per-pair
    * hot path. */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = substring_index(url, "#", 1)
    val base = substring_index(noFrag, "?", 1)
    val query = when(noFrag.contains("?"),
      substring(noFrag, length(base) + 2, lit(1000000))).otherwise("")
    val pre = substring_index(base, "://", 1)
    val rest = substring_index(base, "://", -1)
    val host = substring_index(rest, "/", 1)
    val path = regexp_replace(
      substring(rest, length(host) + 1, lit(1000000)), "/+$", "")
    val params = array_sort(filter(split(query, "&"),
      p => length(p) > 0 && !p.startsWith("utm_")))
    concat(lower(pre), lit("://"), lower(host), path,
      when(size(params) > 0, concat(lit("?"), array_join(params, "&")))
        .otherwise(""))
  }

  /** URL-level dedup: group documents by canonical URL, keep the
    * smallest id as survivor. Same shuffle shape as exactDedup — the
    * canonical string (typically < 100 bytes) is the only thing that
    * moves. */
  def urlDedup(df: DataFrame, id: Column, url: Column): DataFrame =
    df.groupBy(canonicalizeUrl(url).as("canonical_url"))
      .agg(min(id).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Connected components over near-dup pairs — the cluster-formation
    * step that turns pair output (ngramJaccardPairs / minhashLshPairs
    * / simhashPairs) into dedup groups. Iterative min-label
    * propagation: every vertex converges to the minimum doc id
    * reachable in its component, so labels are deterministic and the
    * component minimum doubles as the canonical survivor.
    *
    * Scale notes: each iteration is one keyed join + hash-aggregate
    * (no cartesian anything); `localCheckpoint` cuts lineage per
    * round so plans stay O(1) deep; rounds needed = component
    * diameter, and near-dup components are shallow (dense clusters of
    * copies, not long chains). For adversarially-deep graphs switch
    * the propagation to the large-star/small-star contraction, which
    * converges in O(log n) rounds with the same per-round shape.
    *
    * Output: (doc_id, cluster_id) for every vertex that appears in at
    * least one pair; singletons are their own implicit cluster.
    * Vertex ids are BIGINT (the change-detection pass rides the typed
    * row path).
    */
  def connectedComponents(pairs: DataFrame, a: Column, b: Column,
      maxIter: Int = 25): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // Persist the pair PROJECTION, not the union: the union reads fwd
    // twice (forward + flipped), and without the cache that re-runs the
    // whole upstream pair-generation plan once per direction.
    val fwd = pairs.select(a.as("src"), b.as("dst")).persist()
    // No edge dedup: min-label propagation is idempotent under duplicate
    // edges (min over more rows), so a distinct here would only add a
    // full shuffle. Callers with heavily duplicated pair lists should
    // dedup upstream where the duplication factor is known.
    val edges = fwd
      .union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    // Fused init: the vertex set and propagation round 1 are the same
    // aggregation — label(v) = min(v, min over neighbors) — so the loop
    // starts one round ahead with one job instead of three.
    var labels = edges.groupBy(col("src")).agg(min(col("dst")).as("m"))
      .select(col("src").as("v"), least(col("src"), col("m")).as("label"))
      .localCheckpoint(true)
    var changed = 1L
    var iter = 1
    while (changed > 0 && iter < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("v", "dst"), Seq("dst"))
        .groupBy(col("src").as("v")).agg(min(col("label")).as("nmin"))
      // change detection rides the materialization job via observe():
      // a columnar side-aggregate collected by listener — one Spark
      // job per round AND no per-vertex deserialization (the earlier
      // accumulator form dropped to the typed row path, paying an
      // encoder round-trip for every vertex every round)
      val obs = new org.apache.spark.sql.Observation(s"cc_round_$iter")
      val next = labels.withColumnRenamed("label", "old")
        .join(neighborMin, Seq("v"), "left")
        .select(col("v"), col("old"),
          least(col("old"), coalesce(col("nmin"), col("old"))).as("label"))
        .observe(obs,
          sum(when(col("old") =!= col("label"), 1L).otherwise(0L))
            .as("changed"))
        .select(col("v"), col("label"))
        .localCheckpoint(true)
      changed = obs.get("changed") match {
        case null => 0L
        case n: Long => n
        case n: java.lang.Long => n.longValue()
        case other => other.toString.toLong
      }
      labels = next
      iter += 1
    }
    fwd.unpersist()
    // Non-convergence within the budget must be an ERROR, not a
    // silent cap: truncated propagation returns plausible but WRONG
    // labels (vertices still carrying a non-minimal component id).
    // Deep graphs belong on [[connectedComponentsStars]].
    if (changed > 0)
      throw new IllegalStateException(
        s"min-label propagation did not converge in $maxIter rounds " +
          s"($changed labels still moving); the component diameter " +
          "exceeds the budget - raise maxIter or use " +
          "connectedComponentsStars (O(log n) rounds)")
    labels.select(col("v").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Connected components by large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SOCC'14 — public algorithm) — the adversarial-diameter upgrade
    * path the min-label scaladoc above documents. Converges in
    * O(log n) rounds regardless of component diameter, where
    * min-label propagation needs O(diameter) rounds (a 64-vertex path
    * would exhaust its iteration budget).
    *
    * Per round, two edge rewrites, each one hash-aggregate + one
    * keyed join (same shuffle shape as a propagation round):
    *  - large-star: every node links its LARGER neighbors to its
    *    minimum neighborhood label m(u) = min({u} ∪ N(u));
    *  - small-star: on the larger→smaller orientation, every node
    *    links its smaller neighbors and itself to that minimum.
    * The fixed point is a forest of stars (child → component min);
    * both rewrites leave a star set unchanged. Convergence detection
    * is two-tier: a cheap (count, sum, hash) fingerprint per round,
    * and only on a fingerprint match the exact two-anti-join probe —
    * the expensive check runs once at the fixed point, not per round.
    *
    * Output matches [[connectedComponents]]: (doc_id, cluster_id),
    * cluster_id = component minimum. */
  def connectedComponentsStars(pairs: DataFrame, a: Column, b: Column,
      maxIter: Int = 20): DataFrame =
    starContract(pairs, a, b, maxIter)._1

  /** Round count the star contraction needed on the given pairs —
    * spec hook for the O(log n) bounded-rounds guarantee. */
  def starContractionRounds(pairs: DataFrame, a: Column, b: Column,
      maxIter: Int = 20): Int =
    starContract(pairs, a, b, maxIter)._2

  private def starContract(pairs: DataFrame, a: Column, b: Column,
      maxIter: Int): (DataFrame, Int) = {
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = nbrs.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      nbrs.filter(col("v") > col("u"))
        .join(m, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // orient larger -> smaller; key on the larger endpoint
      val oriented = e
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
      val m = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
      oriented.join(m, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(m.select(col("u"), col("m").as("v")))
        .distinct()
    }
    val raw = pairs.select(a.cast("long").as("u"), b.cast("long").as("v"))
    var edges = raw
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    // vertices whose only edges are self-loops still get a label
    // (their own id), matching the propagation form's vertex set
    val selfOnly = raw.filter(col("u") === col("v"))
      .select(col("u")).distinct()
      .join(edges.select(col("u"))
          .union(edges.select(col("v").as("u"))).distinct(),
        Seq("u"), "left_anti")
    var converged = edges.isEmpty
    var iter = 0
    // convergence in two tiers: a (count, sum, xor-hash) fingerprint
    // rides the aggregate that the rewrite already runs (no extra
    // job), and only when fingerprints MATCH does the exact
    // two-anti-join probe confirm — so the expensive check runs once
    // at the fixed point instead of every round
    def fingerprint(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(count(lit(1)), sum(col("u") + col("v")),
        sum(hash(col("u"), col("v")).cast("long"))).head()
      (r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    // per-round fingerprint rides the checkpoint materialization as
    // an observe() side-aggregate (optimization r17 — the propagation
    // form's change-detection trick): one job per round instead of a
    // materialization job plus a fingerprint job
    def lv(x: Any): Long = x match {
      case null => 0L
      case n: Long => n
      case n: java.lang.Long => n.longValue()
      case other => other.toString.toLong
    }
    var fp = if (converged) (0L, 0L, 0L) else fingerprint(edges)
    while (!converged && iter < maxIter) {
      val obs = new org.apache.spark.sql.Observation(s"star_round_$iter")
      val next = smallStar(largeStar(edges))
        .observe(obs, count(lit(1)).as("n"),
          sum(col("u") + col("v")).as("s"),
          sum(hash(col("u"), col("v")).cast("long")).as("h"))
        .localCheckpoint(true)
      val nfp = (lv(obs.get("n")), lv(obs.get("s")), lv(obs.get("h")))
      converged = nfp == fp &&
        next.join(edges, Seq("u", "v"), "left_anti").isEmpty &&
        edges.join(next, Seq("u", "v"), "left_anti").isEmpty
      fp = nfp
      // the probe above was the last reader of the prior round's
      // checkpointed edges — release it, or every intermediate edge
      // set stays cached for the life of the job (O(log n) rounds,
      // but unbounded aggregate bytes at corpus scale)
      edges.unpersist()
      edges = next
      iter += 1
    }
    // Labels derived from a NON-star edge set are silently wrong —
    // the same failure mode the propagation form throws on. The star
    // fixed point is reached in O(log n) rounds, so hitting the
    // budget means the budget is too small for the graph, not that
    // the answer is approximately right.
    if (!converged)
      throw new IllegalStateException(
        s"star contraction did not reach the star fixed point in " +
          s"$maxIter rounds; raise maxIter (rounds needed grow " +
          "O(log n) in the component size)")
    // star state: children point at the component minimum; centers
    // appear only on the parent side and label themselves
    val labels = edges
      .select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("cluster_id")))
      .union(selfOnly.select(col("u").as("doc_id"), col("u").as("cluster_id")))
      .distinct()
    (labels, iter)
  }

  /** Cluster membership + survivor pick over pair output: each doc in
    * a near-dup component is labeled with the component's minimum doc
    * id, which is also the survivor (the copy a dedup pass would
    * keep). `useStarContraction` switches the label computation to
    * [[connectedComponentsStars]] behind the same API — pick it when
    * components can be adversarially deep. */
  def nearDupClusters(pairs: DataFrame, a: Column, b: Column,
      useStarContraction: Boolean = false): DataFrame =
    (if (useStarContraction) connectedComponentsStars(pairs, a, b)
     else connectedComponents(pairs, a, b))
      .withColumn("is_survivor", col("doc_id") === col("cluster_id"))

  /** Per-cluster summary: size and survivor. */
  def clusterSummary(clusters: DataFrame): DataFrame =
    clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))

  /** Quality-aware survivor selection: instead of [[nearDupClusters]]'
    * min-id survivor, keep the member maximizing an integer quality
    * score (ties → lowest doc id). This is the "keep the best copy"
    * discipline real curation pipelines want — near-dup groups often
    * contain one clean original plus boilerplate-wrapped or truncated
    * variants, and min-id picks among them arbitrarily.
    *
    * `quality` is any doc-keyed frame; `score` must be integer-valued
    * (engine-portable ordering — float score ties are rounding-mode
    * bait). Determinism: the argmax key is the struct
    * (q_score, −doc_id) under lexicographic MAX, a pure function of
    * the cluster's membership. A clustered doc MISSING a quality row
    * still gets its row (left join): q_score null in the output, and
    * it never beats a scored member (the argmax key coalesces missing
    * scores to Long.MinValue — an all-unscored cluster falls back to
    * the lowest doc id).
    *
    * Scale: two doc-keyed equi-joins plus ONE cluster-keyed `max_by`
    * hash aggregate — partial aggregation ships one candidate row per
    * cluster per map task, never the membership list; no window rank.
    * Nothing wider than (ids, score) shuffles.
    *
    * Output: (doc_id, cluster_id, n_members, q_score, is_kept) — one
    * row per clustered doc; exactly one `is_kept` per cluster. */
  def clusterKeepBest(clusters: DataFrame, quality: DataFrame,
      qid: Column, score: Column): DataFrame = {
    val q = quality.select(qid.as("doc_id"), score.cast("long").as("q_score"))
    val member = clusters.select(col("doc_id"), col("cluster_id"))
      .join(q, Seq("doc_id"), "left")
    val reps = member.groupBy(col("cluster_id"))
      .agg(max_by(col("doc_id"),
          struct(coalesce(col("q_score"), lit(Long.MinValue)),
            -col("doc_id"))).as("rep_id"),
        count(lit(1)).as("n_members"))
    member.join(reps, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("n_members"),
        col("q_score"), (col("doc_id") === col("rep_id")).as("is_kept"))
  }

  /** Near-dup degree per document over any pair frame — the "dup hub"
    * detector: a boilerplate/template page near-dups MANY documents,
    * so it surfaces as a high-degree node in the pair graph long
    * before clustering runs (and a hub's cluster via [[nearDupClusters]]
    * would absorb half the corpus — degree is the triage signal for
    * capping or hand-reviewing such pages). One symmetric id-pair
    * union + one doc-keyed hash aggregate; nothing wider than
    * (doc_id, measure) shuffles.
    *
    * Output: (doc_id, n_partners, max_est) for docs with at least
    * `minDegree` partners. */
  def dupDegree(pairs: DataFrame, a: Column, b: Column, est: Column,
      minDegree: Long = 1): DataFrame =
    pairs.select(a.as("doc_id"), est.as("e"))
      .unionByName(pairs.select(b.as("doc_id"), est.as("e")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_partners"), max(col("e")).as("max_est"))
      .filter(col("n_partners") >= minDegree)

  /** Content-defined chunking with a gear rolling hash (the hash
    * underlying FastCDC, Xia et al., USENIX ATC'16): cut the text
    * wherever the rolling hash of the trailing `window` chars has its
    * low `maskBits` bits zero. Because a boundary depends ONLY on the
    * `window` chars before it, chunk boundaries re-align after any
    * insertion/deletion — two documents sharing a long passage at
    * DIFFERENT offsets produce identical interior chunks, which
    * fixed-stride fingerprinting ([[sharedSubstringPairs]]) inherently
    * cannot do.
    *
    * Deliberately the STATELESS form: no min/max-size normalization
    * and no post-cut hash reset. FastCDC's normalizations exist to
    * speed up a sequential byte scanner; they make each cut depend on
    * the previous cut. The stateless predicate is position-local, so
    * the whole operator is a map-only Column program — embarrassingly
    * parallel, nothing shuffles, the 100 TB cost is the scan itself —
    * and that is the right trade on Spark, where the scan (not the
    * hash) is the bottleneck.
    *
    * Engine-exact integer arithmetic: the gear hash at position i is
    * Σ_{k=1..min(i,window)} gear[c_{i-k+1}]·2^(k-1) mod 2^32 — a
    * windowed linear sum an oracle engine computes term-by-term in
    * bigint arithmetic, which the native
    * [[graft.functions.GearCutsExpr]] collapses into the classic
    * O(1)-per-char gear recurrence: one primitive-long pass per row
    * inside whole-stage codegen. (The same sum as nested interpreted
    * higher-order functions measured 173 s at sf0.1 — worse still,
    * materializing the per-position gear values as an array column
    * lets projection collapse inline the array-building transform
    * into every element_at of the consuming lambda, an O(n²·window)
    * blowup. The native kernel is ~350× faster and keeps the
    * operator codegen'd end to end.)
    *
    * Output: (doc_id, chunk_no, start, chunk_len, chunk_md5), chunks
    * covering the text exactly; the final chunk ends at the text end
    * whether or not the hash fires there. */
  /** Adds the gear chunk-span column `chunks`
    * (array<struct<start,end>>, 1-based inclusive positions covering
    * `t` exactly) to a frame carrying a `t` text column — the
    * map-only kernel projection shared by the chunking view
    * ([[gearChunks]]) and the patch-apply rebuild
    * ([[applyChunkPatches]]), so the cut arithmetic is written
    * exactly once. Passthrough columns survive. */
  private def withChunkSpans(df: DataFrame, maskBits: Int,
      window: Int): DataFrame = {
    require(maskBits >= 1 && maskBits <= 31, "maskBits must be in [1,31]")
    require(window >= 1 && window <= 32, "window must be in [1,32]")
    import org.apache.spark.sql.graft.ColumnBridge
    df.withColumn("n", length(col("t")))
      .withColumn("cuts", ColumnBridge.column(graft.functions.GearCutsExpr(
        ColumnBridge.expression(col("t")), maskBits, window)))
      .withColumn("ends",
        array_distinct(concat(col("cuts"), array(col("n")))))
      // starts = 1 :: (each end but the last) + 1; zip_with binds the
      // ELEMENTS in the lambdas — an element_at(ends, idx) here would
      // re-trigger the projection-collapse blowup above
      .withColumn("chunks", zip_with(
        concat(array(lit(1)),
          transform(slice(col("ends"), lit(1), size(col("ends")) - 1),
            e => e + 1)),
        col("ends"),
        (s, e) => struct(s.as("start"), e.as("end"))))
      .drop("n", "cuts", "ends")
  }

  def gearChunks(df: DataFrame, id: Column, text: Column,
      maskBits: Int = 6, window: Int = 32): DataFrame = {
    val chunked = withChunkSpans(
      df.select(id.as("doc_id"), text.as("t"))
        .filter(length(col("t")) >= 1), maskBits, window)
    chunked.select(col("doc_id"), col("t"), posexplode(col("chunks")))
      .select(col("doc_id"),
        col("pos").cast("long").as("chunk_no"),
        col("col.start").cast("long").as("start"),
        (col("col.end") - col("col.start") + 1).cast("long")
          .as("chunk_len"),
        md5(col("t").substr(col("col.start"),
          col("col.end") - col("col.start") + 1)).as("chunk_md5"))
  }

  /** Cross-document duplicate chunks over [[gearChunks]]: the chunk
    * hashes appearing in more than one document, with exact
    * occurrence counts — the storage-dedup view of a corpus, and the
    * shift-resistant complement to [[sharedSubstringPairs]]. One hash
    * aggregate on the chunk hash; text never rides past the chunk
    * projection. */
  def gearDupChunks(df: DataFrame, id: Column, text: Column,
      maskBits: Int = 6, window: Int = 32): DataFrame =
    gearChunks(df, id, text, maskBits, window)
      .groupBy(col("chunk_md5"))
      .agg(count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("first_doc"),
        min(col("chunk_len")).as("chunk_len"))
      .filter(col("n_docs") > 1)

  /** Chunk-level duplicate REMOVAL — the rewrite half of the CDC
    * family (detection: [[gearDupChunks]]), and the
    * shift-resistant sibling of what ExactSubstr-style byte dedup
    * (Lee et al. 2022) does to a corpus: every duplicated chunk keeps
    * exactly its FIRST occurrence (global argmin over
    * (doc_id, chunk_no) — deterministic) and later occurrences are
    * cut out of their documents; unique chunks pass through. Because
    * gear boundaries re-align after insertions, a boilerplate passage
    * shared at different offsets still lands in identical chunks and
    * gets cut.
    *
    * Scale shape: chunking is the map-only native-kernel projection;
    * first-occurrence election is ONE hash aggregate on the 32-byte
    * chunk hash (min_by ships one candidate per hash per map task);
    * the keep-set joins back on (doc_id-keyed) ranges and documents
    * rebuild with the [[lineDedup]] ordered-reassembly idiom — kept
    * chunk text crosses the shuffle once (the same documented trade
    * as lineDedup; the 100 TB path is [[chunkDedupPatches]] +
    * [[applyChunkPatches]], which ship dropped chunk_nos only —
    * exactly [[lineDedupPatches]]' step-up).
    *
    * Output: one row per NON-EMPTY doc (the gearChunks length >= 1
    * gate) — (doc_id, n_chunks, n_kept, cleaned_text), cleaned_text
    * the kept chunks concatenated in original order (empty when
    * everything was cut). */
  /** First-occurrence election over a [[gearChunks]] frame: the
    * global argmin (doc_id, chunk_no) per chunk hash — ONE hash
    * aggregate on the 32-byte hash (min_by ships one candidate per
    * hash per map task). Shared by the rewrite and patch paths so
    * both make identical keep decisions. */
  private def firstChunkOccurrence(chunks: DataFrame): DataFrame =
    chunks.groupBy(col("chunk_md5"))
      .agg(min_by(struct(col("doc_id"), col("chunk_no")),
        struct(col("doc_id"), col("chunk_no"))).as("f"))
      .select(col("chunk_md5"), col("f.doc_id").as("f_doc"),
        col("f.chunk_no").as("f_no"))

  def chunkDedupRewrite(df: DataFrame, id: Column, text: Column,
      maskBits: Int = 6, window: Int = 32): DataFrame = {
    // same length >= 1 gate as gearChunks: empty/null-text docs have
    // no chunks and no output row (they'd otherwise surface as
    // n_chunks=0 rows no chunk-level view can account for)
    val src = df.select(id.as("doc_id"), text.as("t"))
      .filter(length(col("t")) >= 1)
    val chunks = gearChunks(df, id, text, maskBits, window)
    val first = firstChunkOccurrence(chunks)
    val kept = chunks.join(first, Seq("chunk_md5"))
      .withColumn("keep",
        col("doc_id") === col("f_doc") && col("chunk_no") === col("f_no"))
    val perDoc = kept
      .join(src, Seq("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws("", transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("chunk_no"),
              col("t").substr(col("start").cast("int"),
                col("chunk_len").cast("int")).as("piece"))))),
          s => s.getField("piece"))).as("cleaned_text"))
    src.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }

  /** The 100 TB step-up of [[chunkDedupRewrite]] — exactly
    * [[lineDedupPatches]]' shape applied to the CDC family: identical
    * cut DECISIONS, but nothing wider than (doc_id, chunk_no,
    * 32-hex chunk hash) ever crosses a shuffle. Chunking is the
    * map-only native-kernel projection (text stays in its scan);
    * first-occurrence election is the same ONE min_by hash aggregate
    * as the rewrite form; the patch aggregate collects the LOSING
    * occurrences' chunk ordinals per doc. Text is rebuilt map-side by
    * [[applyChunkPatches]] inside the next stage's scan — the gear
    * kernel re-runs there for the cost of a codegen'd projection,
    * which at 100 TB is noise next to shipping chunk text through a
    * doc-keyed exchange.
    *
    * Output: (doc_id, dropped_nos: sorted array<long> of chunk
    * ordinals to cut) — only docs losing at least one chunk appear. */
  def chunkDedupPatches(df: DataFrame, id: Column, text: Column,
      maskBits: Int = 6, window: Int = 32): DataFrame = {
    val chunks = gearChunks(df, id, text, maskBits, window)
      .select(col("doc_id"), col("chunk_no"), col("chunk_md5"))
    val first = firstChunkOccurrence(chunks)
    chunks.join(first, Seq("chunk_md5"))
      .filter(col("doc_id") =!= col("f_doc") ||
        col("chunk_no") =!= col("f_no"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("chunk_no"))).as("dropped_nos"))
  }

  /** Apply [[chunkDedupPatches]] patch sets during a scan of the doc
    * frame: one doc-keyed left join (text crosses at most ONE
    * exchange, zero when the patch table broadcasts) plus a map-only
    * re-run of the gear cut kernel and an indexed-filter rebuild.
    * Output schema identical to [[chunkDedupRewrite]]:
    * (doc_id, n_chunks, n_kept, cleaned_text). */
  def applyChunkPatches(df: DataFrame, id: Column, text: Column,
      patches: DataFrame, maskBits: Int = 6, window: Int = 32)
      : DataFrame = {
    val src = df.select(id.as("doc_id"), text.as("t"))
      .filter(length(col("t")) >= 1) // the gearChunks gate
    withChunkSpans(src.join(patches, Seq("doc_id"), "left"),
        maskBits, window)
      .select(col("doc_id"),
        size(col("chunks")).cast("long").as("n_chunks"),
        (size(col("chunks")) -
          coalesce(size(col("dropped_nos")), lit(0))).cast("long")
          .as("n_kept"),
        concat_ws("", transform(
          filter(col("chunks"), (c, i) =>
            col("dropped_nos").isNull ||
              !array_contains(col("dropped_nos"), i.cast("long"))),
          c => col("t").substr(c.getField("start"),
            c.getField("end") - c.getField("start") + 1)))
          .as("cleaned_text"))
  }

  /** [[chunkDedupRewrite]] behind the patch-set path — same
    * signature, same output, for swapping the scale shape in without
    * touching callers. */
  def chunkRewriteViaPatches(df: DataFrame, id: Column, text: Column,
      maskBits: Int = 6, window: Int = 32): DataFrame =
    applyChunkPatches(df, id, text,
      chunkDedupPatches(df, id, text, maskBits, window),
      maskBits, window)
}
