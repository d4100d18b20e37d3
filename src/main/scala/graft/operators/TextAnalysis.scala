package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token
  * statistics, quality scoring, marker-based language/class scoring and
  * document fingerprinting. All pure Column compositions (codegen'd,
  * no UDFs); ratios are single IEEE divisions of exact integers so
  * results are engine-portable bit-for-bit.
  *
  * Scale: each operator is a narrow projection or one hash-aggregate;
  * nothing shuffles more than (doc_id-keyed) aggregates.
  */
object TextAnalysis {

  /** Whitespace tokens of the lower-cased text, empties dropped. */
  def tokens(text: Column): Column = Dedup.tokens(text)

  /** Per-doc token statistics: total tokens, distinct tokens (types)
    * and type/token ratio. */
  def tokenStats(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"), tokens(text).as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        size(array_distinct(col("ws"))).cast("long").as("n_types"))
      .withColumn("ttr", col("n_types") / col("n_tokens"))

  /** BPE-ish subword-unit count: runs of letters, runs of digits, or a
    * single other non-space char each count as one unit — a cheap,
    * deterministic proxy for tokenizer cost. */
  def unitCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
      .cast("long")

  /** Demo stopword list over the corpus vocabulary. */
  val Stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in")

  /** Quality-gate thresholds shared by [[qualityScore]] (batch, with
    * the full diagnostic columns) and [[qualityOk]] (the single
    * boolean used on streams) — one source of truth, so the streaming
    * gate can never drift from the batch gate. */
  val MinTokens = 10L
  val MinStopRatio = 0.01
  val MaxStopRatio = 0.6
  val MaxMeanTokenLen = 12.0

  /** Per-doc quality heuristics: char/token counts, stopword ratio,
    * mean token length, and a boolean gate combining them (the shape of
    * C4/Gopher-style quality filters). */
  def qualityScore(df: DataFrame, id: Column, text: Column,
      stopwords: Seq[String] = Stopwords): DataFrame = {
    df.select(id.as("doc_id"), length(text).cast("long").as("n_chars"),
        tokens(text).as("ws"), unitCount(text).as("n_units"))
      .select(col("doc_id"), col("n_chars"), col("n_units"),
        size(col("ws")).cast("long").as("n_tokens"),
        graft.functions.Functions.arrayCountIn(col("ws"), stopwords)
          .cast("long").as("n_stop"))
      .withColumn("stop_ratio", col("n_stop") / col("n_tokens"))
      .withColumn("mean_token_len",
        (col("n_chars") - (col("n_tokens") - 1)) / col("n_tokens"))
      .withColumn("quality_ok",
        col("n_tokens") >= MinTokens && col("stop_ratio") >= MinStopRatio &&
          col("stop_ratio") <= MaxStopRatio &&
          col("mean_token_len") <= MaxMeanTokenLen)
  }

  /** [[qualityScore]]'s gate as ONE boolean Column over the text —
    * no frame reshaping, so it drops into streaming selects and
    * filter chains. Same thresholds by construction. */
  def qualityOk(text: Column, stopwords: Seq[String] = Stopwords): Column =
    qualityOkFrom(tokens(text), length(text).cast("long"), stopwords)

  /** [[qualityOk]] over an ALREADY-MATERIALIZED token array — for
    * fused per-row signal projections that compute `tokens(text)`
    * once and derive several statistics from it (the dataCardBy
    * shape); passing the raw text would re-run the tokenizer per
    * consumer. Same thresholds and arithmetic by construction. */
  private[graft] def qualityOkFrom(ws: Column, nChars: Column,
      stopwords: Seq[String] = Stopwords): Column = {
    val nTokens = size(ws).cast("long")
    val nStop = graft.functions.Functions.arrayCountIn(ws, stopwords)
      .cast("long")
    val stopRatio = nStop / nTokens
    val meanTokenLen = (nChars - (nTokens - 1)) / nTokens
    nTokens >= MinTokens && stopRatio >= MinStopRatio &&
      stopRatio <= MaxStopRatio && meanTokenLen <= MaxMeanTokenLen
  }

  /** Marker-based class scoring (the n-gram-list language-ID shape):
    * score(class) = matching tokens / total tokens; winner = argmax
    * with deterministic tie-break on class name. `markers` maps class
    * name -> marker token list. */
  def classifyByMarkers(df: DataFrame, id: Column, text: Column,
      markers: Map[String, Seq[String]]): DataFrame = {
    val base = df.select(id.as("doc_id"), tokens(text).as("ws"))
      .withColumn("n_tokens", size(col("ws")).cast("long"))
    val scored = markers.toSeq.sortBy(_._1).map { case (cls, words) =>
      base.select(col("doc_id"), lit(cls).as("class"),
        (graft.functions.Functions.arrayCountIn(col("ws"), words)
          .cast("long") / col("n_tokens")).as("score"))
    }.reduce(_.unionAll(_))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("class").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("class").as("pred_class"), col("score"))
  }

  /** Content-defined document fingerprint: md5 of the sorted distinct
    * token set — invariant to word order and duplication, the cheap
    * "bag-of-words hash" dedup key. */
  def fingerprint(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"),
      md5(array_join(array_sort(array_distinct(tokens(text))), " "))
        .as("fp"))

  /** PII pattern registry. Every pattern is simultaneously valid Java
    * regex AND RE2 (no lookaround, no backreferences, no possessive
    * quantifiers), and no two patterns can match overlapping spans —
    * so per-type counts on the original text plus sequential
    * replacement are order-independent, and an RE2-based oracle engine
    * agrees bit-for-bit. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}",
    "ipv4" -> "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b",
    "phone" -> "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b",
    "ssn" -> "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b")

  /** PII detection + scrubbing — the redaction pass a training-data
    * pipeline runs before anything else sees the text. Per-type match
    * counts (on the original text) and a scrubbed copy with each match
    * replaced by its `[TYPE]` placeholder. Pure codegen'd Column ops
    * (regexp_extract_all / regexp_replace), one narrow projection: at
    * 100 TB this is a map-only pass fused into the parquet scan. */
  def piiScrub(df: DataFrame, id: Column, text: Column): DataFrame = {
    val counts = PiiPatterns.map { case (name, pat) =>
      size(regexp_extract_all(text, lit(pat), lit(0))).cast("long")
        .as(s"n_$name")
    }
    val scrubbed = PiiPatterns.foldLeft(text) { case (t, (name, pat)) =>
      regexp_replace(t, pat, s"[${name.toUpperCase}]")
    }
    df.select((id.as("doc_id") +: counts :+ scrubbed.as("scrubbed")): _*)
      .withColumn("n_pii",
        PiiPatterns.map(p => col(s"n_${p._1}")).reduce(_ + _))
      .withColumn("has_pii", col("n_pii") > 0)
  }

  /** Benchmark decontamination: flag corpus documents whose n-gram
    * shingles cover at least `minOverlapFrac` of some benchmark item's
    * shingles — the standard "is this eval example in the training
    * set" sweep (public method: the GPT-3/PaLM-style n-gram collision
    * check).
    *
    * Scale shape: the benchmark side is small (eval sets are 10^3-10^5
    * items) and is BROADCAST after its own explode, so the 100 TB
    * corpus is never shuffled — scan → explode → broadcast hash join →
    * (corpus_id, bench_id)-keyed partial aggregate. The corpus-side
    * explode reuses [[Dedup.explodedShingles]]'s codegen'd path. */
  def decontaminate(corpus: DataFrame, corpusId: Column, corpusText: Column,
      bench: DataFrame, benchId: Column, benchText: Column,
      n: Int = 3, minOverlapFrac: Double = 0.5): DataFrame = {
    val none = org.apache.spark.storage.StorageLevel.NONE
    val c = Dedup.explodedShingles(corpus, corpusId, corpusText, n, none)
      .withColumnRenamed("doc_id", "corpus_id")
    val b = Dedup.explodedShingles(bench, benchId, benchText, n, none)
      .withColumnRenamed("doc_id", "bench_id")
    val bSizes = b.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_bench_sh"))
    c.join(broadcast(b), Seq("s"))
      .groupBy(col("corpus_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .join(broadcast(bSizes), Seq("bench_id"))
      .withColumn("overlap_frac", col("n_overlap") / col("n_bench_sh"))
      .filter(col("overlap_frac") >= minOverlapFrac)
  }

  /** [[decontaminate]] behind a Bloom prefilter — the 100 TB step-up
    * for a LARGE benchmark/holdout side. Plain decontaminate
    * broadcasts the raw bench gram frame (correct while benchmarks
    * are tiny); a large holdout's gram set may not fit raw, but its
    * Bloom summary always does (numBits/8 bytes at the chosen
    * capacity — ~1.2 MB per million grams at the default sizing).
    *
    * Pass 1 collapses the bench gram set into ONE binary Bloom row
    * (Spark's own `BloomFilterAggregate`, the runtime-join-filter
    * machinery driven explicitly; the single bounded row is collected
    * and embedded as a literal, the same 1-row-summary collect shape
    * as the BPE argmax — `BloomFilterMightContain` requires a
    * constant filter side). The corpus gram stream is then pruned
    * MAP-SIDE by `might_contain` inside the scan projection, so the
    * exact join's corpus side shrinks from every gram to true hits
    * plus the fpp's false positives. Pass 2 is decontaminate's exact
    * gram equi-join over the survivors — false positives die there,
    * so the OUTPUT is exactly [[decontaminate]]'s (the sketch prunes,
    * the exact join decides: the heavy-hitters discipline). Neither
    * the exact join nor the sizes join carries a broadcast hint here:
    * the large-bench regime is the operator's reason to exist, so
    * Catalyst's stats pick the join strategy. xxhash64 feeds the
    * filter on both sides and never reaches the output, so oracle
    * portability is untouched (q130 shares q83's oracle SQL).
    *
    * Output: (bench_id, corpus_id, n_overlap, n_bench_sh,
    * overlap_frac) — identical to [[decontaminate]]. */
  def decontaminateBloom(corpus: DataFrame, corpusId: Column,
      corpusText: Column, bench: DataFrame, benchId: Column,
      benchText: Column, n: Int = 3, minOverlapFrac: Double = 0.5,
      expectedGrams: Long = 4000000L): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    val c = Dedup.explodedShingles(corpus, corpusId, corpusText, n,
        org.apache.spark.storage.StorageLevel.NONE) // corpus: one pass
      .withColumnRenamed("doc_id", "corpus_id")
    // the bench gram frame feeds THREE consumers (bloom aggregate,
    // sizes, exact join) — cache it instead of re-deriving the grams
    // from raw text thrice (the operator exists for LARGE benches)
    val b = Dedup.explodedShingles(bench, benchId, benchText, n)
      .withColumnRenamed("doc_id", "bench_id")
    val bloomBytes = b.select(ColumnBridge.column(
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(
            ColumnBridge.expression(xxhash64(col("s"))), expectedGrams)
          .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    val pruned = c.filter(ColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        Literal(bloomBytes, BinaryType),
        ColumnBridge.expression(xxhash64(col("s"))))))
    val bSizes = b.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_bench_sh"))
    pruned.join(b, Seq("s"))
      .groupBy(col("corpus_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .join(bSizes, Seq("bench_id"))
      .withColumn("overlap_frac", col("n_overlap") / col("n_bench_sh"))
      .filter(col("overlap_frac") >= minOverlapFrac)
  }

  /** N-gram novelty against a reference corpus — the continuous
    * memorization/staleness statistic (the per-doc generalization of
    * [[decontaminate]]'s boolean flag): what fraction of a document's
    * distinct n-grams already exist ANYWHERE in the reference (an
    * earlier snapshot, an eval suite, a licensed set)? Low novelty
    * means re-crawl/boilerplate (candidate to drop or down-weight);
    * near-zero against an eval suite means contamination.
    *
    * Scale shape: both sides collapse to distinct (doc, gram) rows
    * (the shingle frame); the reference then collapses further to its
    * DISTINCT gram set — gram-keyed, vocabulary-sized. The membership
    * probe is a gram-keyed left join (NO broadcast assumption — a
    * reference corpus is corpus-sized, unlike decontaminate's bench
    * side) followed by one doc-keyed count aggregate. Nothing wider
    * than a gram string shuffles.
    *
    * Output per probe doc: (doc_id, n_grams, n_seen, novelty) with
    * novelty = 1 − n_seen/n_grams; docs shorter than n tokens have no
    * grams and are out of scope (no row). */
  def ngramNovelty(df: DataFrame, id: Column, text: Column,
      isRef: Column, n: Int = 3): DataFrame = {
    // is_ref is carried THROUGH the explode: joining the exploded
    // (doc_id, s) frame back to the doc frame would shuffle the whole
    // shingle set a second time just to re-attach a flag that is
    // functionally dependent on doc_id (guide §2.4). NONE: the two
    // branches below recompute the shingles rather than hold them.
    val sh = Dedup.explodedShingles(df, id, text, n,
      org.apache.spark.storage.StorageLevel.NONE,
      carry = Seq(isRef.cast("boolean").as("is_ref")))
    val refGrams = sh.filter(col("is_ref")).select(col("s")).distinct()
      .withColumn("seen", lit(true))
    sh.filter(!col("is_ref"))
      .join(refGrams, Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("seen"), lit(1))).as("n_seen"))
      .withColumn("novelty", lit(1.0) - col("n_seen") / col("n_grams"))
  }

  /** Gopher-style repetition quality signals: duplicate-line fraction
    * and top-n-gram concentration, with a combined keep/drop gate (the
    * published thresholds from Rae et al. 2021's quality filtering:
    * dup-line fraction <= 0.30, top 2-gram fraction <= 0.20).
    *
    * Two doc_id-keyed hash aggregates (line stats ride the projection;
    * gram concentration needs explode → count → max), then a keyed
    * join — nothing shuffles more than (doc_id, gram) counts. */
  def repetitionStats(df: DataFrame, id: Column, text: Column,
      n: Int = 2, maxDupLineFrac: Double = 0.30,
      maxTopGramFrac: Double = 0.20): DataFrame = {
    val base = df.select(id.as("doc_id"), text.as("doc_text"))
    val lineStats = base.select(col("doc_id"),
        filter(split(col("doc_text"), "\n"), l => length(l) > 0).as("ls"))
      .select(col("doc_id"), size(col("ls")).cast("long").as("n_lines"),
        size(array_distinct(col("ls"))).cast("long").as("n_distinct_lines"))
      .withColumn("dup_line_frac",
        when(col("n_lines") > 0,
          (col("n_lines") - col("n_distinct_lines")) / col("n_lines"))
          .otherwise(lit(0.0)))
    val grams = base.select(col("doc_id"),
        tokens(col("doc_text")).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(1), size(col("ws")) - (n - 1))).as("i"))
      .select(col("doc_id"), concat_ws(" ",
        (0 until n).map(k => element_at(col("ws"), col("i") + k)): _*).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"), max(col("c")).as("top_gram_n"))
      .withColumn("top_gram_frac", col("top_gram_n") / col("n_grams"))
    lineStats.join(grams, Seq("doc_id"), "left")
      .withColumn("n_grams", coalesce(col("n_grams"), lit(0L)))
      .withColumn("top_gram_n", coalesce(col("top_gram_n"), lit(0L)))
      .withColumn("repetition_ok",
        col("dup_line_frac") <= maxDupLineFrac &&
          coalesce(col("top_gram_frac") <= maxTopGramFrac, lit(true)))
  }

  /** Integer floor(log2(x)) for a positive BIGINT column, computed as
    * `length(bin(x)) - 1` — EXACT in any engine with a binary-string
    * function (no double log whose last-ulp rounding could flip a
    * floor boundary between engines). */
  private def ilog2(x: Column): Column = (length(bin(x)) - 1).cast("long")

  /** Byte-pair-encoding merge training — the Sennrich et al. 2016
    * algorithm (the public method behind GPT-2/RoBERTa-style
    * tokenizers), distributed: train `nMerges` merge rules on the
    * corpus's word-frequency vocabulary.
    *
    * Representation: each word becomes a symbol sequence with every
    * symbol wrapped as `<sym>` and symbols space-joined
    * (`"ab"` → `"<a> <b>"`). The wrapping makes a merge a plain
    * substring replacement that is symbol-boundary-safe (a pattern
    * `"<a> <b>"` can never match inside a longer symbol) and leaves
    * adjacent same-pair occurrences disjoint, so the engines' shared
    * left-to-right non-overlapping `replace` semantics reproduce the
    * reference algorithm's merge application exactly. Pair counts are
    * adjacent-index counts weighted by word frequency (Sennrich's
    * `get_stats`), and ties break on the pair string ascending —
    * fully deterministic.
    *
    * Scale shape: the corpus collapses to a (word, count) vocabulary
    * first — ONE hash aggregate, after which corpus size never
    * re-enters; each round is one pair-count hash aggregate over the
    * vocabulary (map-side combined) plus a 1-row argmax collect (the
    * standard iterative-trainer shape, like the k-means refinement
    * loop: rounds are bounded and tiny on the driver). The vocabulary
    * frame is localCheckpoint'd per round so plan depth stays O(1).
    *
    * Output: (round, pair_a, pair_b, merged, cnt) — the merge table a
    * tokenizer ships. */
  def bpeTrainMerges(df: DataFrame, text: Column, nMerges: Int): DataFrame = {
    require(nMerges >= 1, "nMerges must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val wrapChars = concat(lit("<"),
      array_join(split(col("word"), ""), "> <"), lit(">"))
    // Optimization r17: LAZY localCheckpoint. The eager form ran a
    // dedicated materialization job per round (plus one for the seed)
    // before the round's pair-count aggregate ran as a SECOND job; the
    // lazy checkpoint materializes inside the aggregate's own job —
    // same lineage cut, half the driver round trips. `retired` defers
    // each superseded vocabulary's unpersist until the NEXT round's
    // collect has materialized its successor (unpersisting earlier
    // would drop blocks a lazily-checkpointed successor still needs —
    // lineage behind a localCheckpoint is truncated).
    var vocab = df.select(explode(tokens(text)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(wrapChars.as("seq"), col("cnt"))
      .localCheckpoint(false)
    var retired: Option[DataFrame] = None
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    for (round <- 1 to nMerges) {
      val arr = split(col("seq"), " ")
      val best = vocab
        .select(col("cnt"), arr.as("a"))
        .filter(size(col("a")) >= 2)
        .select(col("cnt"),
          explode(sequence(lit(1), size(col("a")) - 1)).as("i"), col("a"))
        .select(col("cnt"), concat(element_at(col("a"), col("i")), lit(" "),
          element_at(col("a"), col("i") + 1)).as("pr"))
        .groupBy(col("pr")).agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("pr").asc)
        .limit(1).collect()
      // this round's collect materialized `vocab` — its predecessor
      // is now safe to release
      retired.foreach(_.unpersist()); retired = None
      if (best.isEmpty) {
        // vocabulary fully merged: nothing left to learn
        vocab.unpersist()
        return merges.result()
          .toDF("round", "pair_a", "pair_b", "merged", "cnt")
      }
      val pr = best(0).getString(0)
      val cnt = best(0).getLong(1)
      val Array(wa, wb) = pr.split(" ")
      def unwrap(s: String) = s.substring(1, s.length - 1)
      merges += ((round.toLong, unwrap(wa), unwrap(wb),
        unwrap(wa) + unwrap(wb), cnt))
      retired = Some(vocab)
      vocab = vocab.select(
        replace(col("seq"), lit(pr), lit(s"<${unwrap(wa)}${unwrap(wb)}>"))
          .as("seq"), col("cnt"))
        .localCheckpoint(false)
    }
    retired.foreach(_.unpersist())
    vocab.unpersist()
    merges.result().toDF("round", "pair_a", "pair_b", "merged", "cnt")
  }

  /** Batched BPE merge training — the standard trainer optimization
    * (SentencePiece/fast-BPE style) over [[bpeTrainMerges]]'s exact
    * 1-merge-per-round protocol: each round ranks the pair counts,
    * windows the top `batchSize` candidates, and accepts every
    * candidate whose two symbols are disjoint from ALL higher-ranked
    * candidates in the window, then applies the whole accepted batch
    * in one vocabulary pass. A real 32k-vocab tokenizer needs ~32k
    * greedy rounds ≈ hours of driver round-trips; batching brings the
    * round count to ~vocab/batch while preserving the greedy result
    * wherever it is well-defined: a merge symbol-disjoint from every
    * higher-ranked candidate has its count untouched by those
    * merges, so greedy would have picked it in the same relative
    * order (exactly equal when pair frequencies are distinct and no
    * merge-created pair outranks the batch — the
    * distinct-frequency equivalence pinned in TextAnalysisSpec).
    * The disjoint-from-all-RANKED rule (not disjoint-from-accepted)
    * is deliberately the more conservative, non-recursive form: it
    * is a pure window self-join any engine evaluates identically,
    * where chained acceptance is inherently sequential.
    *
    * Scale shape: identical to the greedy trainer — the corpus
    * collapses to a (word, count) vocabulary in ONE hash aggregate
    * up front; each round is one pair-count aggregate plus a
    * `batchSize`-row collect (the bounded iterative-trainer shape);
    * the batch applies as a codegen'd literal-replace fold in one
    * projection. Rounds run until `maxRounds` or the vocabulary is
    * fully merged.
    *
    * Output: (merge_no, batch_no, pair_a, pair_b, merged, cnt) —
    * merge_no the global 1-based order (batch-major, rank-minor). */
  def bpeTrainMergesBatched(df: DataFrame, text: Column, batchSize: Int,
      maxRounds: Int): DataFrame = {
    require(batchSize >= 1 && maxRounds >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    val wrapChars = concat(lit("<"),
      array_join(split(col("word"), ""), "> <"), lit(">"))
    // lazy localCheckpoint + deferred unpersist: same rationale as
    // [[bpeTrainMerges]] (optimization r17) — one job per round
    // instead of two
    var vocab = df.select(explode(tokens(text)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(wrapChars.as("seq"), col("cnt"))
      .localCheckpoint(false)
    var retired: Option[DataFrame] = None
    val merges = Seq.newBuilder[(Long, Long, String, String, String, Long)]
    var mergeNo = 0L
    var round = 0
    var exhausted = false
    def unwrap(s: String) = s.substring(1, s.length - 1)
    while (round < maxRounds && !exhausted) {
      round += 1
      val arr = split(col("seq"), " ")
      val ranked = vocab
        .select(col("cnt"), arr.as("a"))
        .filter(size(col("a")) >= 2)
        .select(col("cnt"),
          explode(sequence(lit(1), size(col("a")) - 1)).as("i"), col("a"))
        .select(col("cnt"), concat(element_at(col("a"), col("i")), lit(" "),
          element_at(col("a"), col("i") + 1)).as("pr"))
        .groupBy(col("pr")).agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("pr").asc)
        .limit(batchSize).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      retired.foreach(_.unpersist()); retired = None
      if (ranked.isEmpty) exhausted = true
      else {
        // accept candidates symbol-disjoint from every higher-ranked
        // candidate in the window (see scaladoc for why not
        // disjoint-from-accepted)
        val accepted = ranked.zipWithIndex.filter { case ((pr, _), i) =>
          val syms = pr.split(" ").toSet
          ranked.take(i).forall { case (prev, _) =>
            prev.split(" ").toSet.intersect(syms).isEmpty
          }
        }.map(_._1)
        for ((pr, cnt) <- accepted) {
          mergeNo += 1
          val Array(wa, wb) = pr.split(" ")
          merges += ((mergeNo, round.toLong, unwrap(wa), unwrap(wb),
            unwrap(wa) + unwrap(wb), cnt))
        }
        val foldedSeq = accepted.foldLeft(col("seq")) {
          case (seqCol, (pr, _)) =>
            replace(seqCol, lit(pr), lit(s"<${pr.split(" ").map(unwrap).mkString}>"))
        }
        retired = Some(vocab)
        vocab = vocab.select(foldedSeq.as("seq"), col("cnt"))
          .localCheckpoint(false)
      }
    }
    retired.foreach(_.unpersist())
    vocab.unpersist()
    merges.result()
      .toDF("merge_no", "batch_no", "pair_a", "pair_b", "merged", "cnt")
  }

  /** Apply a trained merge table to the corpus and report per-document
    * BPE token counts — the "how many tokens will this doc cost"
    * statistic every training pipeline computes with its real
    * tokenizer. The merge fold is a chain of literal substring
    * replacements on the wrapped symbol form (see [[bpeTrainMerges]]),
    * entirely codegen'd, map-only: per-word token counts aggregate
    * over the SAME (word, count) vocabulary collapse as training, and
    * docs join their word multiset back to the vocabulary — so the
    * corpus text is tokenized once per distinct word, not once per
    * occurrence. */
  def bpeEncodeCounts(df: DataFrame, id: Column, text: Column,
      merges: Seq[(String, String)]): DataFrame = {
    val wrapChars = concat(lit("<"),
      array_join(split(col("word"), ""), "> <"), lit(">"))
    val folded = merges.foldLeft(wrapChars) { case (seqCol, (a, b)) =>
      replace(seqCol, lit(s"<$a> <$b>"), lit(s"<$a$b>"))
    }
    val perWord = df.select(id.as("doc_id"), explode(tokens(text)).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("n_occ"))
      .withColumn("n_sym", size(split(folded, " ")).cast("long"))
    perWord.groupBy(col("doc_id"))
      .agg(sum(col("n_occ")).as("n_words"),
        sum(col("n_occ") * col("n_sym")).as("n_bpe_tokens"))
  }

  /** Context-window chunking — split long documents into token
    * windows of `maxTokens` with `overlap` tokens carried between
    * consecutive chunks (the RAG/pretraining "chunk long docs"
    * step; overlap preserves cross-boundary context). Chunk k covers
    * tokens [k*(maxTokens-overlap), k*(maxTokens-overlap)+maxTokens);
    * the last chunk may be short; documents at or under `maxTokens`
    * yield exactly themselves as chunk 0. Token = whitespace token of
    * the lower-cased text (the family's shared tokenizer), and the
    * chunk text is the space-joined token slice — deterministic and
    * engine-portable.
    *
    * Scale shape: one narrow explode over chunk indices (array slice
    * + join are codegen'd) — no shuffle at all; at 100 TB this fuses
    * into the scan like every other map-only curation stage. */
  def chunkDocuments(df: DataFrame, id: Column, text: Column,
      maxTokens: Int, overlap: Int): DataFrame = {
    require(maxTokens >= 1, "maxTokens must be >= 1")
    require(overlap >= 0 && overlap < maxTokens,
      "overlap must be in [0, maxTokens)")
    val stride = maxTokens - overlap
    df.select(id.as("doc_id"), tokens(text).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), col("ws"),
        // ceil over the stride of the span after the first window,
        // in integer math: 1 + max(0, ceil((n - maxTokens) / stride))
        explode(sequence(lit(0L),
          greatest(lit(0L),
            ceil((size(col("ws")) - maxTokens) / lit(stride.toDouble))
              .cast("long")))).as("chunk_no"))
      .select(col("doc_id"), col("chunk_no"),
        slice(col("ws"), (col("chunk_no") * stride + 1).cast("int"),
          lit(maxTokens)).as("cw"))
      .select(col("doc_id"), col("chunk_no"),
        size(col("cw")).cast("long").as("n_tokens"),
        array_join(col("cw"), " ").as("chunk_text"))
  }

  /** Trained quality classifier — the fastText/CCNet "quality
    * classifier" architecture (GPT-3 trained a linear classifier on
    * WebText-vs-CommonCrawl and kept high-scoring documents; LLaMA/
    * CCNet the same shape): learn per-token class statistics from a
    * LABELED subset, then score the whole corpus by a log-likelihood
    * ratio. As with [[surprisalScore]], the statistic is integer end
    * to end — per token
    * `s(t) = (ilog2(c_pos(t)+1) − ilog2(T_pos)) −
    *         (ilog2(c_neg(t)+1) − ilog2(T_neg))`
    * (add-one smoothed, class-mass normalized, floor-log2), doc score
    * = Σ s(t), predict positive when > 0 — bit-reproducible across
    * engines, no float log-prob drift. Out-of-vocabulary tokens score
    * the smoothing floor exactly like count-0 training tokens.
    *
    * Scale shape: training is ONE hash aggregate on the token key over
    * the labeled subset; the class-total scalars ride a broadcast
    * singleton; scoring re-joins corpus tokens to the model on the
    * token key (the model is vocabulary-sized — no broadcast
    * assumption; Catalyst broadcasts iff stats allow, and the join
    * degrades to a keyed shuffle join otherwise, the same contract as
    * [[surprisalScore]]), then one doc_id-keyed aggregate. Docs with
    * no tokens are absent (nothing to score). */
  def llrQualityScore(corpus: DataFrame, id: Column, text: Column,
      labeled: DataFrame, labeledText: Column, label: Column): DataFrame =
    llrScoreWith(corpus, id, text, llrTrain(labeled, labeledText, label))

  /** TRAIN half of [[llrQualityScore]], exposed standalone — the
    * quality classifier is the artifact GPT-3/CCNet-style pipelines
    * actually ship (train once on the labeled set, score every crawl
    * with the frozen weights). Output: one row per token with its
    * per-class occurrence counts (tok, c_pos, c_neg); the class
    * totals need no separate storage because a token occurrence
    * counts exactly once in its class column, so t_pos = Σ c_pos and
    * t_neg = Σ c_neg — the artifact is self-contained. */
  def llrTrain(labeled: DataFrame, labeledText: Column,
      label: Column): DataFrame =
    labeled.select(labeledText.as("l_text"), label.as("l_pos"))
      .select(explode(tokens(col("l_text"))).as("tok"), col("l_pos"))
      .groupBy(col("tok"))
      .agg(sum(when(col("l_pos"), 1L).otherwise(0L)).as("c_pos"),
        sum(when(!col("l_pos"), 1L).otherwise(0L)).as("c_neg"))

  /** The per-token LLR score shared VERBATIM by [[llrScoreWith]] and
    * the streaming [[graft.streaming.Streaming.qualityMixStream]]
    * (the q177 lesson: one named expression, so the stream cannot
    * drift from the oracled batch form). `cPos`/`cNeg` may be null
    * (a left-join miss = out-of-vocabulary token — scores the
    * smoothing floor). */
  private[graft] def llrTokenScore(cPos: Column, cNeg: Column,
      tPos: Column, tNeg: Column): Column =
    (ilog2(coalesce(cPos, lit(0L)) + 1) - ilog2(tPos)) -
      (ilog2(coalesce(cNeg, lit(0L)) + 1) - ilog2(tNeg))

  /** SERVE half of [[llrQualityScore]]: score a corpus against a
    * supplied model — live [[llrTrain]] output or a parquet artifact
    * loaded through [[loadLlrModel]]; the round-trip is spec-pinned
    * bit-identical. The class totals reduce from the model itself
    * (see llrTrain), so the shipped table alone drives scoring. */
  def llrScoreWith(corpus: DataFrame, id: Column, text: Column,
      model: DataFrame): DataFrame = {
    val totals = model.agg(
      sum(col("c_pos")).as("t_pos"), sum(col("c_neg")).as("t_neg"))
    corpus.select(id.as("doc_id"), explode(tokens(text)).as("tok"))
      .join(model, Seq("tok"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        llrTokenScore(col("c_pos"), col("c_neg"),
          col("t_pos"), col("t_neg")).as("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("s")).as("score"))
      .withColumn("pred_quality", col("score") > 0)
  }

  /** Persist a trained [[llrTrain]] classifier. NOT coalesced: unlike
    * the merge/centroid/profile artifacts this one is
    * VOCABULARY-sized, so it writes at natural parallelism (scoring
    * joins it on the token key — partition count is irrelevant to
    * the result). */
  def saveLlrModel(model: DataFrame, path: String): Unit =
    model.select(col("tok").cast("string").as("tok"),
        col("c_pos").cast("long").as("c_pos"),
        col("c_neg").cast("long").as("c_neg"))
      .write.mode("overwrite").parquet(path)

  /** Load a shipped classifier for [[llrScoreWith]], validated at
    * the artifact boundary: canonical columns, distinct tokens (a
    * duplicate would double-count its class mass), no negative
    * counts, and positive mass in BOTH classes (a one-class table
    * cannot compute a likelihood ratio — ilog2 of a zero total would
    * poison every score). */
  def loadLlrModel(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val raw = spark.read.parquet(path)
    val missing = Seq("tok", "c_pos", "c_neg")
      .filterNot(raw.columns.toSet)
    require(missing.isEmpty,
      s"$path is not an llrTrain artifact: missing column(s) " +
        missing.mkString(", "))
    val model = raw.select(col("tok").cast("string").as("tok"),
      col("c_pos").cast("long").as("c_pos"),
      col("c_neg").cast("long").as("c_neg"))
    val stats = model.agg(count(lit(1)).as("n"),
        countDistinct(col("tok")).as("nd"),
        count(when(col("c_pos") < 0 || col("c_neg") < 0, 1)).as("neg"),
        sum(col("c_pos")).as("tp"), sum(col("c_neg")).as("tn"))
      .collect()(0)
    require(stats.getLong(0) == stats.getLong(1),
      s"$path carries duplicate token rows")
    require(stats.getLong(2) == 0L,
      s"$path carries negative class counts")
    require(stats.getLong(0) > 0L && stats.getLong(3) > 0L &&
      stats.getLong(4) > 0L,
      s"$path must carry positive mass in both classes " +
        s"(t_pos=${stats.get(3)}, t_neg=${stats.get(4)})")
    model
  }

  /** Corpus-model surprisal scoring — the LM-based quality-signal
    * shape (CCNet/LLaMA filter docs by language-model perplexity; this
    * is the same two-pass architecture with an engine-exact integer
    * statistic): pass 1 aggregates the corpus's n-gram counts into a
    * model; pass 2 scores every document by the total information
    * content of its n-grams under that model,
    * `surprisal = Σ (ilog2(T) − ilog2(c(gram)))` — high mean surprisal
    * = improbable text (gibberish/noise), abnormally low = boilerplate.
    * All arithmetic is integer ([[ilog2]]), so the score is
    * reproducible bit-for-bit across engines, unlike a float log-prob.
    *
    * `minCount` prunes the model to grams seen at least that often,
    * with pruned/unseen grams floored to count 1 (maximum surprisal).
    * At minCount=2 the pruning is LOSSLESS for this statistic —
    * ilog2(1) = 0 is exactly what true-count-1 grams contribute — while
    * dropping the hapax mass, which by Zipf's law is roughly half of
    * all distinct n-grams: the model side of the join shrinks ~2×
    * for free.
    *
    * Scale shape: gram explode is narrow; the model is one hash
    * aggregate on the gram key; scoring re-joins doc grams to the
    * model on that same gram key (shuffle keyed by gram — at corpus
    * scale the model is itself large, so a broadcast is NOT assumed),
    * then one doc_id-keyed aggregate. The total-count scalar rides a
    * broadcast singleton, the same side-input pattern as the global
    * stats combine. Docs with fewer than n tokens produce no grams and
    * are absent from the output (nothing to score). */
  def surprisalScore(df: DataFrame, id: Column, text: Column,
      n: Int = 2, minCount: Long = 2): DataFrame = {
    require(n >= 1 && minCount >= 1)
    val grams = docGrams(df, id, text, n)
    val model = grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
    surprisalTail(grams, model, gramTotal(df, text, n))
  }

  /** The corpus's total gram-occurrence count WITHOUT the explode:
    * [[docGrams]] emits exactly `size(ws) − (n−1)` rows per doc with
    * ≥ n tokens, so `Σ (size − (n−1))` over the doc frame equals
    * `count(*)` over the exploded grams — one narrow scan aggregate
    * in place of a full tokenize+Generate pass (guide §1.2 #1: don't
    * compute rows you only ever count). Empty corpus → 0, like the
    * count it replaces. */
  private def gramTotal(df: DataFrame, text: Column, n: Int): DataFrame =
    df.select(tokens(text).as("ws"))
      .select(size(col("ws")).cast("long").as("sz"))
      .filter(col("sz") >= n)
      .agg(coalesce(sum(col("sz") - (n - 1)), lit(0L)).as("t"))

  /** The word-n-gram explode shared by the fused and split surprisal
    * forms: one row per (doc_id, gram) occurrence. */
  private def docGrams(df: DataFrame, id: Column, text: Column,
      n: Int): DataFrame =
    df.select(id.as("doc_id"), tokens(text).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(1), size(col("ws")) - (n - 1))).as("i"))
      .select(col("doc_id"), concat_ws(" ",
        (0 until n).map(k => element_at(col("ws"), col("i") + k)): _*).as("g"))

  /** Scoring tail shared by [[surprisalScore]] and
    * [[surprisalScoreWith]]: OOV floor, ilog2 information content,
    * doc aggregate. `total` is a 1-row (t) frame. */
  private def surprisalTail(grams: DataFrame, model: DataFrame,
      total: DataFrame): DataFrame =
    grams.join(model, Seq("g"), "left")
      .withColumn("c", coalesce(col("c"), lit(1L))) // OOV floor
      .crossJoin(broadcast(total))
      .select(col("doc_id"), (ilog2(col("t")) - ilog2(col("c"))).as("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"), sum(col("s")).as("surprisal"))
      .withColumn("mean_x1000",
        floor(col("surprisal") * 1000 / col("n_ngrams")).cast("long"))

  /** A trained surprisal model: the pruned gram-count table plus the
    * TRAINING corpus's total gram count (NOT derivable from the
    * pruned table — pruning drops the hapax mass whose count still
    * belongs in the total) and the gram width both halves must
    * agree on. */
  case class SurprisalModel(grams: DataFrame, totalGrams: Long, n: Int)

  /** TRAIN half of [[surprisalScore]], exposed standalone — the
    * corpus LM a CCNet-style pipeline trains once on a reference
    * corpus and applies to every incoming crawl. The total is
    * resolved eagerly (one count — a scalar is the honest artifact
    * shape for it). */
  def surprisalTrain(df: DataFrame, id: Column, text: Column,
      n: Int = 2, minCount: Long = 2): SurprisalModel = {
    require(n >= 1 && minCount >= 1)
    val grams = docGrams(df, id, text, n)
    SurprisalModel(
      grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= minCount),
      // the total via the narrow doc-level sum ([[gramTotal]]) — the
      // old grams.count() re-ran the full tokenize+explode pass just
      // to count rows whose cardinality the token counts already carry
      gramTotal(df, text, n).collect()(0).getLong(0), n)
  }

  /** SERVE half: score a corpus against a supplied model — live
    * [[surprisalTrain]] output or a [[loadSurprisalModel]] artifact;
    * the round-trip on the training corpus is spec-pinned
    * bit-identical to the fused [[surprisalScore]]. */
  def surprisalScoreWith(df: DataFrame, id: Column, text: Column,
      model: SurprisalModel): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    surprisalTail(docGrams(df, id, text, model.n), model.grams,
      Seq(model.totalGrams).toDF("t"))
  }

  /** Persist a trained [[surprisalTrain]] model: the gram table at
    * natural parallelism (vocabulary-sized — the llr rule) under
    * `path/grams`, the scalars (total, n) as a 1-row parquet under
    * `path/meta`. */
  def saveSurprisalModel(model: SurprisalModel, path: String): Unit = {
    val spark = model.grams.sparkSession
    import spark.implicits._
    model.grams.select(col("g").cast("string").as("g"),
        col("c").cast("long").as("c"))
      .write.mode("overwrite").parquet(s"$path/grams")
    Seq((model.totalGrams, model.n.toLong)).toDF("total_grams", "n")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a shipped surprisal model, validated at the boundary:
    * canonical columns in both files, exactly one meta row, positive
    * total and gram width, distinct grams, no gram count above the
    * stored total (a doctored count would invert its information
    * content), none below 1. */
  def loadSurprisalModel(spark: org.apache.spark.sql.SparkSession,
      path: String): SurprisalModel = {
    val metaRaw = spark.read.parquet(s"$path/meta")
    require(Seq("total_grams", "n").forall(metaRaw.columns.toSet),
      s"$path is not a surprisalTrain artifact: meta lacks " +
        "total_grams/n")
    val meta = metaRaw.select(col("total_grams").cast("long"),
      col("n").cast("long")).collect()
    require(meta.length == 1 && meta(0).getLong(0) >= 1 &&
      meta(0).getLong(1) >= 1,
      s"$path meta must be one row with positive total_grams and n")
    val (total, n) = (meta(0).getLong(0), meta(0).getLong(1).toInt)
    val gramsRaw = spark.read.parquet(s"$path/grams")
    require(Seq("g", "c").forall(gramsRaw.columns.toSet),
      s"$path is not a surprisalTrain artifact: grams lacks g/c")
    val grams = gramsRaw.select(col("g").cast("string").as("g"),
      col("c").cast("long").as("c"))
    val stats = grams.agg(count(lit(1)).as("nr"),
        countDistinct(col("g")).as("nd"),
        count(when(col("c") < 1L || col("c") > total, 1)).as("bad"))
      .collect()(0)
    require(stats.getLong(0) == stats.getLong(1),
      s"$path carries duplicate gram rows")
    require(stats.getLong(2) == 0L,
      s"$path carries gram counts outside [1, total_grams]")
    SurprisalModel(grams, total, n)
  }

  /** Engine-exact BM25 lexical retrieval (the Okapi ranking function,
    * Robertson et al., TREC-3) — top-k documents per query over the
    * corpus's whitespace tokens via an inverted index: the keyword
    * sibling of the embedding ANN family in
    * [[graft.operators.Similarity]].
    *
    * Every statistic is integer end to end (the [[surprisalScore]]
    * idiom), so scores are bit-reproducible across engines:
    *
    *  - `idf(t) = ilog2(N DIV df_t)` — floor-log2 of the inverse
    *    document frequency; a term in more than half the corpus scores
    *    0, which is the classic BM25 negative-idf clamp and built-in
    *    stopword suppression in one.
    *  - `avgdl = total_tokens DIV N` (floor).
    *  - term weight: Okapi saturation `tf·(k1+1) / (tf + k1·(1−b +
    *    b·dl/avgdl))` with the standard k1=1.2, b=0.75 cleared of
    *    floats — multiply through by 20·avgdl to get the exact
    *    rational `44·tf·avgdl / (20·tf·avgdl + 6·avgdl + 18·dl)`,
    *    then quantize ×10000 with ONE integer floor-division so each
    *    term contributes an exact long and the doc score (a long sum)
    *    is independent of aggregation order.
    *
    * Scale shape: postings `(doc, term, tf, dl)` form in ONE hash
    * aggregate — `dl` rides the grouping key (it is functionally
    * dependent on doc_id), so no second doc-keyed pass and no window.
    * The corpus-global scalars (N, avgdl) reduce the postings map-side
    * into a broadcast singleton. `df_t` reduces postings on the term
    * key but is immediately equi-joined to the literal query-term
    * list, so the vocabulary-sized df table collapses to |query terms|
    * rows before anything broadcasts. Candidate generation is then a
    * broadcast equi-join of those enriched query terms back against
    * postings — the inverted-index probe: the corpus never shuffles on
    * anything wider than its own (doc, term) aggregate. Ranking
    * reuses [[graft.functions.TopKAggregator]] (k rows per query per
    * map task), not a row_number window that would drag every
    * candidate of a hot term to one partition.
    *
    * Output: (query_id, rank, doc_id, score) with rank 1..k by score
    * desc, doc_id asc (deterministic ties). */
  def bm25TopK(corpus: DataFrame, id: Column, text: Column,
      queries: Seq[(String, String)], k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    require(queries.nonEmpty, "queries must be non-empty")
    val spark = corpus.sparkSession
    import spark.implicits._
    val docs = corpus
      .select(id.as("doc_id"), tokens(text).as("ws"))
      .filter(size(col("ws")) >= 1)
    // only query terms ever reach a shuffle: scoring and df_t both
    // consume postings joined to the (tiny) query-term list, so the
    // term filter runs in the scan, BEFORE the explode output is
    // aggregated — the full-vocabulary (doc, term) aggregate the old
    // shape shuffled three times never forms
    val qtermSet = queries.flatMap { case (_, qtext) =>
      qtext.toLowerCase.split("\\s+").filter(_.nonEmpty)
    }.distinct
    val postings = docs
      .select(col("doc_id"), size(col("ws")).cast("long").as("dl"),
        explode(col("ws")).as("term"))
      .filter(col("term").isInCollection(qtermSet))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // corpus scalars off the doc frame directly: n_docs = docs with
    // ≥1 token (the filter above), tot_tokens = Σ dl = Σ tf — the
    // same values the postings aggregate produced, one narrow pass
    val stats = docs
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("ws")).cast("long")).as("tot_tokens"))
      .select(col("n_docs"),
        expr("tot_tokens DIV n_docs").as("avgdl"))
    val qterms = queries.flatMap { case (qid, qtext) =>
      qtext.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
        .map(t => (qid, t))
    }.toDF("query_id", "term")
    // df_t per query term: the term filter commutes with the
    // per-term doc count (each group is keyed by one term), so the
    // restricted postings give the identical df_t for every term the
    // old full-vocabulary aggregate could ever join to qterms
    val enriched = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df_t"))
      .join(broadcast(qterms), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", ilog2(expr("n_docs DIV df_t")))
    val scored = postings.join(broadcast(enriched), Seq("term"))
      .withColumn("w", expr(
        "(44 * tf * avgdl * 10000) DIV (20 * tf * avgdl + 6 * avgdl + 18 * dl)"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("idf") * col("w")).as("score"))
    val topk = udaf(new graft.functions.TopKAggregator(k))
    // scores are integer longs well under 2^53, so the aggregator's
    // double slot holds them exactly; ties break doc_id asc in both
    // the aggregator's total order and the oracle's window
    scored.groupBy(col("query_id"))
      .agg(topk(col("doc_id"), col("score").cast("double")).as("top"))
      .select(col("query_id"), posexplode(col("top.items")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.vecId").as("doc_id"),
        col("col.cosine").cast("long").as("score"))
  }

  /** C4's heuristic page-cleaning filters (Raffel et al. 2020, §2.2 —
    * the published rule set behind the C4/T5 corpus), line-level gates
    * plus page-level drops over newline-delimited text:
    *
    *  - keep a line only if it ends in a terminal punctuation mark
    *    (`.`, `!`, `?`, or closing `"`), has at least `minLineWords`
    *    whitespace words (C4 used 5), and does not contain the word
    *    "javascript" (case-insensitive);
    *  - drop the whole page when fewer than `minKeptLines` lines
    *    survive (C4 used 3 sentences), when the page contains the
    *    phrase "lorem ipsum" or a curly bracket `{`, or when any
    *    whitespace token is on the `badWords` blocklist (C4 used the
    *    public "dirty naughty obscene" list; parameterized here).
    *
    * Scale shape: one narrow posexplode of the line split, per-line
    * gates as codegen'd Column predicates, then ONE doc_id-keyed hash
    * aggregate that rebuilds the cleaned text by sorting the (tiny,
    * per-doc) kept-line array — the [[graft.operators.Dedup.lineDedup]]
    * reassembly idiom. Nothing shuffles wider than (doc_id, line).
    *
    * Output: (doc_id, n_lines, n_kept, page_ok, cleaned_text) —
    * one row per input doc; cleaned_text is the kept lines
    * newline-joined in original order, null when no line survives.
    * A doc whose text is empty or all-blank lines surfaces as
    * (0, 0, false, null) rather than vanishing — posexplode_outer
    * keeps the doc through the line explode, so the empty-page case
    * costs no join. */
  def c4Filters(df: DataFrame, id: Column, text: Column,
      minLineWords: Int = 5, minKeptLines: Int = 3,
      badWords: Seq[String] = Seq.empty): DataFrame = {
    val lines = df
      .select(id.as("doc_id"), text.as("t"))
      .select(col("doc_id"), col("t"),
        posexplode_outer(filter(split(col("t"), "\n"), l => l =!= "")))
      .withColumnRenamed("pos", "line_no")
      .withColumnRenamed("col", "line")
    val lineWords = filter(split(col("line"), " "), w => w =!= "")
    val keepLine =
      substring(col("line"), -1, 1).isin(".", "!", "?", "\"") &&
        size(lineWords) >= minLineWords &&
        !array_contains(transform(lineWords,
          w => regexp_replace(lower(w), "[.!?\"]+$", "")), "javascript")
    val pageClean =
      !contains(lower(col("t")), lit("lorem ipsum")) &&
        !contains(col("t"), lit("{")) &&
        (if (badWords.isEmpty) lit(true)
         else !arrays_overlap(
           transform(filter(split(lower(col("t")), "[ \n]"), w => w =!= ""),
             w => regexp_replace(w, "[.!?\"]+$", "")),
           typedLit(badWords)))
    lines
      .withColumn("keep", keepLine)
      .withColumn("clean", pageClean)
      .groupBy(col("doc_id"))
      // count(line), not count(1): the outer explode's null-line row
      // for an empty page must not count as a line
      .agg(count(col("line")).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        first(col("clean")).as("clean"),
        array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("line_no"), col("line"))))),
          s => s.getField("line")), "\n").as("joined"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        (col("clean") && col("n_kept") >= minKeptLines).as("page_ok"),
        when(col("n_kept") >= 1, col("joined")).as("cleaned_text"))
  }

  /** Unicode script mix per document — the language-surface signal a
    * curation pipeline reads before language-ID proper: per-doc
    * codepoint counts by script family (Latin incl. the Latin-1/
    * Extended accent ranges, ASCII digits, Cyrillic, CJK unified
    * ideographs, everything else) plus the dominant family. Mixed
    * CJK-in-Latin pages, transliteration spam, and wrong-script
    * content all surface here as skewed mixes.
    *
    * Engine portability: classification is numeric codepoint-range
    * arithmetic on `ascii(char)` (Spark) / `unicode(char)` (DuckDB) —
    * never a non-ASCII regex character class, whose semantics diverge
    * between engines (the [[encodingQuality]] rule). BMP scope:
    * per-character splitting keeps astral codepoints (emoji) intact
    * in both engines' codepoint semantics, but they simply count as
    * `other` here. Map-only: one narrow projection, the per-char
    * array never leaves the row.
    *
    * Output: (doc_id, n_cp, n_latin, n_digit, n_cyrillic, n_cjk,
    * n_other, main_script) — main_script resolved on ties in the
    * fixed order latin > digit > cyrillic > cjk > other. */
  def scriptMix(df: DataFrame, id: Column, text: Column): DataFrame = {
    // null text counts as empty — size(null array) is -1, which would
    // otherwise poison every count downstream
    val cps = transform(filter(split(coalesce(text, lit("")), ""),
      c => c =!= ""), c => ascii(c))
    def inRange(c: Column, ranges: Seq[(Int, Int)]): Column =
      ranges.map { case (lo, hi) => c >= lo && c <= hi }.reduce(_ || _)
    def cnt(ranges: Seq[(Int, Int)]): Column =
      size(filter(col("cps"), c => inRange(c, ranges))).cast("long")
    val base = df.select(id.as("doc_id"), cps.as("cps"))
      .select(col("doc_id"),
        size(col("cps")).cast("long").as("n_cp"),
        cnt(Seq((65, 90), (97, 122), (0xC0, 0x24F))).as("n_latin"),
        cnt(Seq((48, 57))).as("n_digit"),
        cnt(Seq((0x400, 0x4FF))).as("n_cyrillic"),
        cnt(Seq((0x4E00, 0x9FFF))).as("n_cjk"))
      .withColumn("n_other",
        col("n_cp") - col("n_latin") - col("n_digit") -
          col("n_cyrillic") - col("n_cjk"))
    val m = greatest(col("n_latin"), col("n_digit"), col("n_cyrillic"),
      col("n_cjk"), col("n_other"))
    base.withColumn("main_script",
      when(col("n_cp") === 0, "empty")
        .when(col("n_latin") === m, "latin")
        .when(col("n_digit") === m, "digit")
        .when(col("n_cyrillic") === m, "cyrillic")
        .when(col("n_cjk") === m, "cjk")
        .otherwise("other"))
  }

  /** Corpus n-gram diversity per stratum — the data-card companion to
    * the per-doc repetition gates ([[repetitionStats]]): lexical
    * diversity of each SOURCE, the statistic mixture designers read
    * before up-weighting a source (a low type-token ratio or a fat
    * top gram means templated/boilerplate content that dedup hasn't
    * caught yet). Per stratum: total gram occurrences, distinct
    * grams, type-token ratio in integer permille, and the heaviest
    * gram's share in permille.
    *
    * Scale shape: the canonical two-level LM-stats reduction — one
    * (stratum, gram)-keyed hash aggregate (map-side combined;
    * vocabulary-sized shuffle, the [[surprisalScore]] model shape)
    * collapsed by a stratum-keyed aggregate into |strata| rows.
    * Integer permilles (count·1000 DIV total) keep the report
    * engine-portable.
    *
    * Output: (stratum, n_grams, n_distinct, ttr_permille,
    * top_permille). Strata with no grams (every doc shorter than n
    * tokens) are out of scope — no row. */
  def ngramDiversity(df: DataFrame, stratum: Column, text: Column,
      n: Int = 2): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val ws = tokens(text)
    val grams = df
      .select(stratum.as("stratum"), ws.as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("stratum"),
        explode(transform(sequence(lit(1), size(col("ws")) - (n - 1)),
          i => array_join(slice(col("ws"), i, lit(n)), " "))).as("g"))
    grams.groupBy(col("stratum"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("stratum"))
      .agg(sum(col("c")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
      .select(col("stratum"), col("n_grams"), col("n_distinct"),
        expr("n_distinct * 1000 DIV n_grams").as("ttr_permille"),
        expr("top_c * 1000 DIV n_grams").as("top_permille"))
  }

  /** DSIR-style importance weights for data selection (Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling" — the published hashed-n-gram method): score every
    * raw-corpus document by how much more likely its hashed bigram
    * features are under a TARGET domain's bag-of-ngrams model than
    * under the raw corpus's own.
    *
    * Feature hashing: each bigram maps to one of 4096 buckets via the
    * first 3 hex chars of its md5 — an engine-portable hash (md5 is
    * bit-identical everywhere; Spark's murmur `hash()` is not), the
    * same trick as the deterministic sampler. Per bucket,
    * `λ[b] = (ilog2(ct[b]+1) − ilog2(Tt)) − (ilog2(cr[b]+1) −
    * ilog2(Tr))` — the add-one-smoothed, mass-normalized floor-log2
    * likelihood ratio of target vs raw (the integer idiom shared with
    * [[llrQualityScore]], here over hashed features of two CORPORA
    * rather than token features of two classes). Doc weight =
    * Σ_grams λ[bucket(gram)]; resampling keeps the highest-weight
    * docs.
    *
    * Scale shape: both corpora reduce to fixed 4096-row bucket tables
    * (one hash aggregate each — map-side combined, so the shuffle is
    * 4096 rows per task regardless of corpus size); the joined λ
    * table is a guaranteed broadcast (≤4096 rows BY CONSTRUCTION,
    * unlike a vocabulary-keyed model); scoring is a map-only broadcast
    * probe plus one doc_id-keyed aggregate. The raw corpus never
    * shuffles on anything wider than (doc_id, bucket-hash).
    *
    * Output: (doc_id, n_grams, logw, mean_x1000), logw the integer
    * Σλ. */
  def dsirWeights(raw: DataFrame, id: Column, text: Column,
      target: DataFrame, targetText: Column): DataFrame =
    dsirScoreWith(raw, id, text,
      dsirLambda(raw, text, target, targetText))

  /** The hashed-bigram bucketing shared by DSIR's train and serve
    * halves: md5 → 4096 buckets, one row per gram occurrence. */
  private def dsirGrams(first: DataFrame, keep: Seq[String]): DataFrame = {
    val ks = keep.map(col)
    first
      .filter(size(col("ws")) >= 2)
      .select(ks :+
        explode(sequence(lit(1), size(col("ws")) - 1)).as("i") :+
        col("ws"): _*)
      .select(ks :+ conv(substring(md5(concat_ws(" ",
        element_at(col("ws"), col("i")),
        element_at(col("ws"), col("i") + 1))), 1, 3), 16, 10)
        .cast("long").as("b"): _*)
  }

  /** TRAIN half of [[dsirWeights]], exposed standalone — the DSIR
    * importance model is the per-bucket λ table (Xie et al. 2023
    * train it once per target domain and weight every incoming
    * document with the frozen table). Fixed 4096-row output
    * (b, lam). */
  def dsirLambda(raw: DataFrame, text: Column,
      target: DataFrame, targetText: Column): DataFrame = {
    val rawB = dsirGrams(raw.select(tokens(text).as("ws")), Seq.empty)
    val tgtGrams = dsirGrams(
      target.select(tokens(targetText).as("ws")), Seq.empty)
    val ct = tgtGrams.groupBy(col("b")).agg(count(lit(1)).as("c"))
    val cr = rawB.groupBy(col("b")).agg(count(lit(1)).as("c"))
    // gram-mass totals via the narrow doc-level sum (each doc with
    // ≥ 2 tokens emits exactly size−1 bigrams): the old count(*) over
    // dsirGrams re-ran a full tokenize+explode pass per corpus just
    // to count rows — and Σ c over the bucket tables would be the
    // same number but costs a second corpus aggregate, not a scan sum
    def massOf(c: Column, d: DataFrame, alias: String) =
      d.select(size(tokens(c)).cast("long").as("sz"))
        .filter(col("sz") >= 2)
        .agg(coalesce(sum(col("sz") - 1), lit(0L)).as(alias))
    val tt = massOf(targetText, target, "tt")
    val tr = massOf(text, raw, "tr")
    cr.join(ct.withColumnRenamed("c", "c_t"), Seq("b"), "full")
      .select(col("b"), coalesce(col("c"), lit(0L)).as("c_r"),
        coalesce(col("c_t"), lit(0L)).as("c_t"))
      .crossJoin(broadcast(tt)).crossJoin(broadcast(tr))
      .select(col("b"),
        ((ilog2(col("c_t") + 1) - ilog2(col("tt"))) -
          (ilog2(col("c_r") + 1) - ilog2(col("tr")))).as("lam"))
  }

  /** SERVE half: weight a corpus against a supplied λ table — live
    * [[dsirLambda]] output or a [[loadDsirLambda]] artifact; the
    * round-trip is spec-pinned bit-identical to the fused
    * [[dsirWeights]]. Buckets the incoming corpus never trained
    * (absent from the table) drop — matching the fused form, whose
    * inner join only keeps buckets the raw corpus itself populated
    * (every raw gram's bucket is in the table by construction). */
  def dsirScoreWith(raw: DataFrame, id: Column, text: Column,
      lambda: DataFrame): DataFrame =
    dsirGrams(raw.select(id.as("doc_id"), tokens(text).as("ws")),
        Seq("doc_id"))
      .join(broadcast(lambda.select(col("b"), col("lam"))), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("lam")).as("logw"))
      .withColumn("mean_x1000",
        floor(col("logw") * 1000 / col("n_grams")).cast("long"))

  /** Persist a trained [[dsirLambda]] table (≤ 4096 rows — one
    * file). */
  def saveDsirLambda(lambda: DataFrame, path: String): Unit =
    lambda.select(col("b").cast("long").as("b"),
        col("lam").cast("long").as("lam"))
      .coalesce(1)
      .write.mode("overwrite").parquet(path)

  /** Load a shipped λ table for [[dsirScoreWith]], validated at the
    * boundary: canonical columns, distinct buckets in [0, 4095] (a
    * duplicate would double-weight its gram mass; an out-of-range
    * bucket can never match an md5-derived key — a corrupt table,
    * not a harmless extra). */
  def loadDsirLambda(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val raw = spark.read.parquet(path)
    val missing = Seq("b", "lam").filterNot(raw.columns.toSet)
    require(missing.isEmpty,
      s"$path is not a dsirLambda artifact: missing column(s) " +
        missing.mkString(", "))
    val table = raw.select(col("b").cast("long").as("b"),
      col("lam").cast("long").as("lam"))
    val stats = table.agg(count(lit(1)).as("n"),
        countDistinct(col("b")).as("nd"),
        count(when(col("b") < 0L || col("b") > 4095L, 1)).as("oob"))
      .collect()(0)
    require(stats.getLong(0) == stats.getLong(1),
      s"$path carries duplicate bucket rows")
    require(stats.getLong(2) == 0L,
      s"$path carries bucket ids outside [0, 4095]")
    table
  }

  /** Fill-in-the-middle split planning (Bavarian et al. 2022,
    * "Efficient Training of Language Models to Fill in the Middle" —
    * the published FIM transform): with probability `fimRate`, a
    * document is rearranged into PSM order
    * `<PRE>prefix<SUF>suffix<MID>middle` around two uniform character
    * split points; the model then learns infilling from the same
    * corpus mass.
    *
    * Determinism (the [[graft.operators.Sampling]] discipline): the
    * FIM decision is `first md5 byte < floor(rate·256)` and the two
    * split points are independent md5 draws mod (n+1), min/max
    * ordered — a pure function of (doc_id, salt), so the plan is
    * reproducible in any engine, and re-running or re-partitioning
    * the corpus can never flip a document's transform.
    *
    * Scale: map-only (one narrow projection, zero shuffle) — the
    * transform fuses into the scan.
    *
    * Output: (doc_id, do_fim, split_u, split_v, text_out) where
    * text_out is the PSM rearrangement for FIM docs and the original
    * text otherwise. */
  def fimSplit(df: DataFrame, id: Column, text: Column,
      fimRate: Double = 0.5, salt: String = "fim"): DataFrame = {
    require(fimRate >= 0.0 && fimRate <= 1.0, "fimRate must be in [0,1]")
    val thresh = math.floor(fimRate * 256).toLong
    def draw(tag: String): Column =
      conv(substring(md5(concat(col("doc_id").cast("string"),
        lit(s":$salt:$tag"))), 1, 6), 16, 10).cast("long")
    df.select(id.as("doc_id"), text.as("t"))
      .filter(length(col("t")) >= 1)
      .withColumn("n", length(col("t")).cast("long"))
      .withColumn("do_fim",
        conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(s":$salt:p"))), 1, 2), 16, 10).cast("long") < thresh)
      .withColumn("split_u",
        when(col("do_fim"), least(draw("a") % (col("n") + 1),
          draw("b") % (col("n") + 1))).otherwise(lit(null)))
      .withColumn("split_v",
        when(col("do_fim"), greatest(draw("a") % (col("n") + 1),
          draw("b") % (col("n") + 1))).otherwise(lit(null)))
      .withColumn("text_out", when(col("do_fim"),
        concat(lit("<PRE>"), col("t").substr(lit(1), col("split_u")),
          lit("<SUF>"), col("t").substr(col("split_v") + 1,
            col("n") - col("split_v")),
          lit("<MID>"), col("t").substr(col("split_u") + 1,
            col("split_v") - col("split_u"))))
        .otherwise(col("t")))
      .select(col("doc_id"), col("do_fim"), col("split_u"),
        col("split_v"), col("text_out"))
  }

  /** T5-style span-corruption planning (Raffel et al. 2020 §3.1.4:
    * corrupt ~`corruptRate` of the tokens in spans of `spanLen`,
    * replacing each span with a sentinel and emitting the spans as
    * the target) — as a DETERMINISTIC distributed plan: the doc's
    * tokens divide into `nSpans = floor(n·rate / spanLen)` equal
    * strides and the k-th span lands inside the k-th stride at an
    * md5-drawn offset. Spans are non-overlapping BY CONSTRUCTION
    * (one per stride), every engine reproduces the identical plan,
    * and the realized corruption mass is within one span of the
    * target. (T5's reference sampler places spans by sequential
    * rejection — equivalent coverage, but inherently serial and
    * RNG-stateful; stride placement is the order-free restatement.)
    *
    * Scale: one narrow explode (doc → spans) off a map-only
    * projection; the input/target renders are per-row Column folds.
    *
    * Output: one row per span — (doc_id, span_no, start_tok,
    * len_tok) — plus the doc-level corrupted input and target
    * renders with `<extra_id_k>` sentinels, repeated per row. */
  def spanCorruptionPlan(df: DataFrame, id: Column, text: Column,
      corruptRate: Double = 0.15, spanLen: Int = 3,
      salt: String = "span"): DataFrame = {
    require(corruptRate > 0 && corruptRate < 1, "corruptRate in (0,1)")
    require(spanLen >= 1, "spanLen must be positive")
    val base = df.select(id.as("doc_id"), tokens(text).as("ws"))
      .withColumn("n", size(col("ws")).cast("long"))
      .withColumn("n_spans",
        floor(col("n") * corruptRate / spanLen).cast("long"))
      .filter(col("n_spans") >= 1)
      .withColumn("stride", expr("n DIV n_spans"))
    val spans = base
      .select(col("doc_id"), col("ws"), col("n"), col("stride"),
        explode(sequence(lit(0L), col("n_spans") - 1)).as("span_no"))
      // offset within the stride: md5 draw mod the slack after the
      // span itself (stride >= spanLen because n_spans <= n·rate/len)
      .withColumn("start_tok",
        col("span_no") * col("stride") + 1 +
          conv(substring(md5(concat(col("doc_id").cast("string"),
            lit(s":$salt:"), col("span_no").cast("string"))), 1, 6), 16, 10)
            .cast("long") % (col("stride") - spanLen + 1))
      .withColumn("len_tok", lit(spanLen.toLong))
    // doc-level renders: fold the (small, per-doc) span list into the
    // corrupted input and the target — map-only Column folds over the
    // collected span array, no token-level explode. The per-element
    // element_at over `froms`/`untils` re-inlines their defining
    // transform (projection collapse), but those arrays are
    // span-count-sized (~n·rate/spanLen, tens at most), not
    // text-sized — the O(m²) is on m = #spans, harmless.
    val rendered = spans
      .groupBy(col("doc_id"), col("ws"))
      .agg(sort_array(collect_list(
        struct(col("span_no"), col("start_tok")))).as("sp"))
      .withColumn("m", size(col("sp")))
      // gap i spans tokens [froms(i), untils(i)-1]; sentinel i after
      // every gap but the last
      .withColumn("froms", concat(array(lit(1L)),
        transform(col("sp"), s => s.getField("start_tok") + spanLen)))
      .withColumn("untils",
        concat(transform(col("sp"), s => s.getField("start_tok")),
          array(size(col("ws")).cast("long") + 1)))
      .withColumn("corrupted_input", concat_ws(" ", flatten(
        transform(sequence(lit(0), col("m")), i => concat(
          slice(col("ws"), element_at(col("froms"), i + 1).cast("int"),
            greatest(element_at(col("untils"), i + 1) -
              element_at(col("froms"), i + 1), lit(0L)).cast("int")),
          when(i < col("m"), array(concat(lit("<extra_id_"),
            i.cast("string"), lit(">"))))
            .otherwise(typedLit(Seq.empty[String])))))))
      .withColumn("target_output", concat_ws(" ", flatten(
        transform(col("sp"), (s, i) => concat(
          array(concat(lit("<extra_id_"), i.cast("string"), lit(">"))),
          slice(col("ws"), s.getField("start_tok").cast("int"),
            lit(spanLen)))))))
    spans.join(rendered.select(col("doc_id"), col("corrupted_input"),
        col("target_output")), Seq("doc_id"))
      .select(col("doc_id"), col("span_no"), col("start_tok"),
        col("len_tok"), col("corrupted_input"), col("target_output"))
  }

  /** Exact corpus heavy hitters via the two-pass Misra–Gries protocol:
    * every term whose exact frequency exceeds N/(k+1) of the N total
    * tokens, with its exact count.
    *
    * Pass 1 summarizes the token stream through
    * [[graft.functions.HeavyHittersAggregator]] — a bounded k-counter
    * sketch whose partial buffers are at most k entries per map task,
    * so discovering frequent terms never shuffles the corpus
    * vocabulary (at 100 TB the distinct-term table is itself huge; a
    * plain groupBy-count-filter would shuffle all of it to find a
    * handful of rows). The MG guarantee — any term with true
    * frequency > N/(k+1) survives the sketch, counts under-estimate
    * but never over — makes the summary a sound candidate set. Pass 2
    * re-counts ONLY the (≤ k, broadcast) candidates exactly and
    * applies the integer threshold `cnt·(k+1) > N` — no floats, no
    * sketch error in the output: the sketch prunes, the re-count
    * decides.
    *
    * Output: (term, cnt) for each heavy hitter, exact. */
  def heavyTerms(df: DataFrame, text: Column, k: Int): DataFrame = {
    val mg = udaf(new graft.functions.HeavyHittersAggregator(k))
    val terms = df.select(explode(tokens(text)).as("term"))
    val summary = terms.agg(mg(col("term")).as("sk"),
      count(lit(1)).as("n_total"))
      .select(col("sk.items").as("cand"), col("n_total"))
    terms.crossJoin(broadcast(summary))
      .filter(array_contains(col("cand"), col("term")))
      .groupBy(col("term"), col("n_total"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * (k + 1) > col("n_total"))
      .select(col("term"), col("cnt"))
  }

  /** Curated mojibake digraph signatures — the classic UTF-8-read-as-
    * Latin-1 damage ftfy documents: an accented Latin-1 letter's
    * 2-byte UTF-8 form re-decoded as two Latin-1 chars ('é' C3 A9 →
    * "Ã©"; the Windows-1252 punctuation family 'â€¦'). Literal
    * strings, not regex classes: every engine counts a literal
    * substring identically, where non-ASCII character-class syntax
    * diverges between regex dialects. */
  val MojibakeSignatures: Seq[String] = Seq(
    "Ã©", "Ã¨", "Ã¤", "Ã¶", "Ã¼", "Ã±", "Ã¡", "Ã³", "Ãº", "Ã§",
    "â€™", "â€œ", "â€“", "â€”", "â€¦", "Â«", "Â»", "Â°")

  /** Encoding-damage detection — the text-quality gate for transport
    * corruption rather than content quality: replacement characters
    * (U+FFFD — a decoder already gave up), mojibake digraphs
    * ([[MojibakeSignatures]] — double-decoded UTF-8), and stray C0
    * control characters (anything below 0x20 except tab/LF/CR).
    * Counts are substring arithmetic (`length(t) − length(replace(t,
    * sig))` per literal signature — zero regex for the non-ASCII
    * classes, so the statistic is engine-exact) plus one ASCII-only
    * control-char regex. Map-only projection, fuses into the scan.
    *
    * Output: (doc_id, n_replacement, n_mojibake, n_control,
    * encoding_ok). */
  def encodingQuality(df: DataFrame, id: Column, text: Column): DataFrame = {
    val (nRepl, nMoji, nCtl) = encodingCounts(text)
    df.select(id.as("doc_id"), nRepl.as("n_replacement"),
        nMoji.as("n_mojibake"), nCtl.as("n_control"))
      .withColumn("encoding_ok",
        col("n_replacement") === 0 && col("n_mojibake") === 0 &&
          col("n_control") === 0)
  }

  /** The three [[encodingQuality]] damage counts as bare per-row
    * expressions. */
  private def encodingCounts(text: Column): (Column, Column, Column) = {
    def subCount(t: Column, sig: String): Column =
      (length(t) - length(replace(t, lit(sig), lit("")))) / sig.length
    val nRepl = (length(text) - length(replace(text, lit("�"), lit(""))))
      .cast("long")
    val nMoji = MojibakeSignatures.map(s => subCount(text, s))
      .reduce(_ + _).cast("long")
    val nCtl = size(regexp_extract_all(text,
      lit("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"), lit(0))).cast("long")
    (nRepl, nMoji, nCtl)
  }

  /** [[encodingQuality]]'s gate as ONE per-row Column — for composers
    * that only need the verdict: a map-only predicate fuses into the
    * caller's scan where the frame form forces a doc_id equi-join of
    * two corpus-sized sides (the r18 curationFunnel lesson: that join
    * re-evaluated per funnel consumer). Same expressions, same
    * null semantics (null text → null counts → null gate). */
  def encodingOk(text: Column): Column = {
    val (nRepl, nMoji, nCtl) = encodingCounts(text)
    nRepl === 0 && nMoji === 0 && nCtl === 0
  }

  /** Exact per-stratum token-length quantiles via a VALUE HISTOGRAM —
    * the scale-safe form of `percentile` for context-length planning
    * (how long are this source's docs → what ctxLen / packing /
    * truncation policy). Token counts are small integers, so the
    * corpus collapses to a (stratum, n_tokens, freq) histogram in ONE
    * partial-agg hash aggregate — bounded by |distinct lengths|, not
    * corpus size; quantiles then come from a cumulative sum over that
    * tiny frame. `pQ` = the smallest value whose cumulative count
    * reaches ceil(Q·n/100) — the Type-1 inverse-CDF definition, a
    * pure integer selection reproducible in any engine (interpolating
    * definitions mix floats and differ between engines).
    *
    * Spark's exact `percentile` aggregate would ship EVERY value to
    * its group's reducer (corpus-sized shuffle, reducer-sized
    * buffer); `approx_percentile` is a sketch whose merge order isn't
    * engine-portable. The histogram form is exact AND bounded — the
    * window sort runs over at most |distinct lengths| rows per
    * stratum.
    *
    * Output per stratum: (stratum, n_docs, mean_tokens — integer
    * DIV, p50, p90, p99, max_tokens). */
  def lengthQuantiles(df: DataFrame, stratum: Column, text: Column,
      qs: Seq[Int] = Seq(50, 90, 99)): DataFrame =
    integerQuantiles(
        df.select(stratum.as("stratum"),
          size(tokens(text)).cast("long").as("v")),
        col("stratum"), col("v"), qs)
      .withColumnRenamed("n_rows", "n_docs")
      .withColumnRenamed("mean_v", "mean_tokens")
      .withColumnRenamed("max_v", "max_tokens")

  /** The histogram-quantile kernel under [[lengthQuantiles]],
    * generalized to ANY small-integer per-row statistic (quality
    * permilles, surprisal buckets, line counts…): one partial-agg
    * hash aggregate to a (stratum, value, freq) histogram — bounded
    * by |distinct values|, never corpus size — then Type-1
    * inverse-CDF selection over the tiny cumulative frame. See
    * [[lengthQuantiles]] for why this beats `percentile` (corpus
    * shuffle) and `approx_percentile` (non-portable sketch) at scale.
    *
    * Output: (stratum, n_rows, mean_v — integer DIV, p<q>…, max_v). */
  def integerQuantiles(df: DataFrame, stratum: Column, value: Column,
      qs: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 1 && q <= 100),
      "quantiles must be in [1,100]")
    val hist = df
      .select(stratum.as("stratum"), value.cast("long").as("v"))
      .groupBy(col("stratum"), col("v")).agg(count(lit(1)).as("f"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stratum")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = hist.withColumn("cum", sum(col("f")).over(w))
      .withColumn("n_rows", sum(col("f")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("stratum"))))
      .withColumn("sum_v", sum(col("f") * col("v")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("stratum"))))
    // cum >= ceil(q*n/100)  <=>  100*cum >= q*n  (cum integer)
    val qCols = qs.map(q =>
      min(when(col("cum") * 100 >= col("n_rows") * q, col("v"))).as(s"p$q"))
    cum.groupBy(col("stratum"))
      .agg(max(col("n_rows")).as("n_rows"),
        (expr("max(sum_v) DIV max(n_rows)").as("mean_v") +: qCols) :+
          max(col("v")).as("max_v"): _*)
  }

  /** Grid-bucketed per-stratum quantiles for HIGH-CARDINALITY integer
    * values — the bounded-state form of [[integerQuantiles]] when the
    * value column has corpus-sized distinct counts (quantized
    * embedding norms, byte sizes, hash-derived scores) and the exact
    * value histogram would itself be corpus-sized. Two passes: an
    * exact per-stratum (min, max, count, sum) aggregate, then each
    * value maps onto a `buckets`-cell grid over [min, max] by PURE
    * INTEGER arithmetic — `(v − min) · buckets DIV (max − min + 1)` —
    * and the Type-1 inverse-CDF selection runs over the bucket
    * histogram, which is ≤ `buckets` rows per stratum BY CONSTRUCTION
    * no matter the corpus size. Every reported p<q>_lo is the exact
    * lower bound of the quantile's bucket: the true Type-1 quantile
    * lies in [p_lo, p_lo + ceil((max−min+1)/buckets)) — a bounded,
    * engine-portable guarantee (no float sketch, no merge-order
    * dependence; DuckDB reproduces every step bit-for-bit).
    *
    * Scale shape: one partial-agg hash aggregate to |strata| bound
    * rows (broadcast back — never a corpus shuffle), one partial-agg
    * hash aggregate to the ≤ strata·buckets histogram, and the window
    * sort runs over that tiny frame only. Caller contract:
    * (max − min) · buckets must stay under 2^63 (buckets = 1024
    * leaves headroom past 2^52 value ranges).
    *
    * Output: (stratum, n_rows, v_min, v_max, mean_v — integer FLOOR
    * division, bit-equal to DuckDB `//` even on negative sums,
    * p<q>_lo…). */
  def gridQuantiles(df: DataFrame, stratum: Column, value: Column,
      buckets: Int = 1024, qs: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    require(buckets >= 2, "need at least 2 grid buckets")
    require(qs.nonEmpty && qs.forall(q => q >= 1 && q <= 100),
      "quantiles must be in [1,100]")
    // null values (or values that cast to null) are excluded up
    // front — [[globalRank]]'s null contract: without this, count()
    // counts null rows into n_rows while min/max/sum ignore them AND
    // the nulls land in the bucket histogram as a null bucket,
    // skewing the Type-1 selection against mean/cum
    val v = df.select(stratum.as("stratum"), value.cast("long").as("v"))
      .filter(col("v").isNotNull)
    val bounds = v.groupBy(col("stratum"))
      .agg(min(col("v")).as("v_min"), max(col("v")).as("v_max"),
        count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
    val bucketed = v.join(broadcast(bounds.select(
        col("stratum"), col("v_min"), col("v_max"))), Seq("stratum"))
      .select(col("stratum"),
        expr(s"(v - v_min) * $buckets DIV (v_max - v_min + 1)").as("b"))
    val bq = integerQuantiles(bucketed, col("stratum"), col("b"), qs)
      .select(col("stratum") +: qs.map(q => col(s"p$q")): _*)
    bounds.join(bq, Seq("stratum"))
      .select(Seq(col("stratum"), col("n_rows"), col("v_min"),
        col("v_max"),
        // FLOOR division (DuckDB //), not Spark's truncating DIV: the
        // two differ exactly when sum_v is negative with a remainder,
        // and this operator explicitly admits negative values
        expr("sum_v DIV n_rows - (CASE WHEN sum_v < 0 AND " +
          "sum_v % n_rows != 0 THEN 1 ELSE 0 END)").as("mean_v")) ++
        qs.map(q =>
          (col("v_min") + expr(s"p$q * (v_max - v_min + 1) DIV $buckets"))
            .as(s"p${q}_lo")): _*)
  }

  /** Exact competition rank (1 + number of strictly-better rows) of an
    * integer column over the WHOLE frame, WITHOUT the classic global
    * window — `rank() OVER (ORDER BY v)` with no PARTITION BY funnels
    * the entire corpus through ONE partition, the textbook
    * driver-shaped bottleneck. Distributed decomposition instead:
    *
    *   1. aggregate to per-VALUE counts (narrow two-long rows,
    *      map-side partial combine, hash-partitioned),
    *   2. grid-bucket the values ([[gridQuantiles]]'s pure-integer
    *      cell map over broadcast (min,max)),
    *   3. per-bucket DESC cumulative counts (hash-partitioned window
    *      over the per-value frame — parallel across buckets),
    *   4. suffix-sum the ≤`buckets`-row bucket histogram (the one
    *      single-partition window, BOUNDED at `buckets` rows by
    *      construction),
    *   5. rank(v) = rows-in-higher-buckets + rows-above-within-bucket
    *      + 1, joined back per value.
    *
    * The corpus crosses two NARROW exchanges (the per-value partial
    * agg and the rank join-back — and integer signals usually have few
    * enough distinct values that AQE broadcasts the rank side, leaving
    * one); text/arrays never shuffle.
    *
    * Ties share a rank (value-determined → deterministic under any
    * row order), matching SQL `rank()` bit-for-bit — what makes the
    * DuckDB mirror a one-liner. `descending=true` ranks the largest
    * value 1 (the retrieval convention). Same overflow contract as
    * [[gridQuantiles]]: (max − min) · buckets < 2^63.
    *
    * The plan references `df` twice (the per-value agg and the
    * join-back) and the per-value frame three times (bounds, bucket
    * map, bucket histogram) — Catalyst does NOT dedupe common
    * subplans across branches (the q126 funnel lesson), so both are
    * persisted at `storage` by default; pass `StorageLevel.NONE` to
    * recompute per branch when the input is a trivial projection.
    *
    * Output: the input columns + `rank` (BIGINT ≥ 1). Rows whose value
    * is null (or casts to null) are excluded from the ranking and come
    * back with a NULL rank — never silently dropped. */
  def globalRank(df: DataFrame, value: Column, descending: Boolean = true,
      buckets: Int = 1024,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(buckets >= 2, "need at least 2 grid buckets")
    // identifier safety, same contract as rankFusion's signal-name
    // require: withColumn("__v") would silently OVERWRITE a caller
    // column of that name, and the output `rank` would shadow one
    require(!df.columns.contains("__v") && !df.columns.contains("rank"),
      "input must not contain reserved columns __v / rank")
    val none = org.apache.spark.storage.StorageLevel.NONE
    val base0 = df.withColumn("__v", value.cast("long"))
    val base = if (storage == none) base0 else base0.persist(storage)
    val vals0 = base.filter(col("__v").isNotNull)
      .groupBy(col("__v")).agg(count(lit(1)).as("__f"))
      .withColumn("__sig", lit(0))
    val vals = if (storage == none) vals0 else vals0.persist(storage)
    val ranks = valueRanks(vals, descending, buckets)
      .select(col("__v"), col("rank"))
    base.join(ranks, Seq("__v"), "left").drop("__v")
  }

  /** The kernel under [[globalRank]] and [[rankFusion]]: exact
    * competition rank of every distinct (__sig, __v) pair from its
    * per-value count frame — steps 2–5 of [[globalRank]]'s
    * decomposition, STRATIFIED by a signal ordinal so one machinery
    * (one bounds broadcast, one bucket window pass, one bucket
    * suffix-sum) ranks any number of signals in a single sweep.
    * Input: (__sig, __v, __f); output: (__sig, __v, rank). The bucket
    * suffix-sum window partitions by __sig over ≤ `buckets` rows per
    * signal — bounded by construction, never corpus-sized. */
  private def valueRanks(vals: DataFrame, descending: Boolean,
      buckets: Int): DataFrame = {
    val bounds = vals.groupBy(col("__sig"))
      .agg(min(col("__v")).as("v_min"), max(col("__v")).as("v_max"))
    val dir = if (descending) col("__v").desc else col("__v").asc
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__sig"), col("__b")).orderBy(dir)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val perValue = vals.join(broadcast(bounds), Seq("__sig"))
      .withColumn("__b",
        expr(s"(__v - v_min) * $buckets DIV (v_max - v_min + 1)"))
      .withColumn("__above_in", coalesce(sum(col("__f")).over(wIn), lit(0L)))
    val bDir = if (descending) col("__b").desc else col("__b").asc
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__sig")).orderBy(bDir)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val bucketAbove = perValue.groupBy(col("__sig"), col("__b"))
      .agg(sum(col("__f")).as("__bf"))
      .withColumn("__above_b", coalesce(sum(col("__bf")).over(wB), lit(0L)))
      .select(col("__sig"), col("__b"), col("__above_b"))
    perValue.join(broadcast(bucketAbove), Seq("__sig", "__b"))
      .select(col("__sig"), col("__v"),
        (col("__above_b") + col("__above_in") + lit(1L)).as("rank"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher 2009) of several
    * per-document quality signals — THE standard robust way to combine
    * heterogeneous "higher is better" scores whose scales don't
    * compare (token counts vs permilles vs LLR buckets): each signal
    * contributes `scale DIV (k + rank_signal(doc))`, so a document
    * must rank well under SEVERAL signals to score high, and no
    * signal's units can dominate. Pure integer end to end (`scale`
    * plays the 1/x numerator at fixed point; truncating DIV matches
    * DuckDB `//` on these non-negative operands), ranks are exact
    * competition ranks from [[globalRank]] — no single-partition
    * corpus window, no float normalization to drift across engines.
    *
    * k=60 is the paper's constant: it damps the top-1-vs-top-5 gap so
    * one signal's opinionated head can't override the rest.
    *
    * One machinery ranks ALL the signals: the narrow (doc_id,
    * signals…) projection is computed ONCE, persisted at `storage`
    * (longs only — tokenizing/shingling work in the signal
    * expressions never re-runs per branch), melted by `stack` into
    * (doc_id, signal-ordinal, value) — map-only, no exchange — and
    * ONE stratified [[valueRanks]] sweep ranks every signal at once.
    * The corpus crosses three narrow exchanges total regardless of
    * signal count: the per-(signal,value) agg, the rank join-back,
    * and the pivot back to one row per doc. Pass `StorageLevel.NONE`
    * to stay fully lazy.
    *
    * Output: (doc_id, rank_<name>…, rrf_score); ties in a signal
    * share that signal's rank. A null signal value excludes the doc
    * from THAT signal's ranking only (rank_<name> NULL, contributing 0
    * to the fused score — exactly how RRF treats a doc absent from one
    * retriever's list); the doc row itself always survives. */
  def rankFusion(df: DataFrame, id: Column,
      signals: Seq[(String, Column)], k: Int = 60,
      scale: Long = 1000000000L, buckets: Int = 1024,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(signals.nonEmpty, "need at least one signal")
    require(signals.forall(_._1.matches("[A-Za-z0-9_]+")),
      "signal names must be identifier-safe ([A-Za-z0-9_]+): they name " +
        "the rank_<name> output columns")
    require(signals.map(_._1).distinct.size == signals.size,
      "signal names must be distinct")
    require(k >= 0 && scale > 0, "k must be >= 0 and scale positive")
    val none = org.apache.spark.storage.StorageLevel.NONE
    val base0 = df.select(id.as("doc_id") +:
      signals.map { case (n, c) => c.cast("long").as(s"__s_$n") }: _*)
    val base = if (storage == none) base0 else base0.persist(storage)
    val stackArgs = signals.zipWithIndex
      .map { case ((n, _), i) => s"$i, __s_$n" }.mkString(", ")
    val melted = base.select(col("doc_id"),
      expr(s"stack(${signals.size}, $stackArgs) AS (__sig, __v)"))
    val vals0 = melted.filter(col("__v").isNotNull)
      .groupBy(col("__sig"), col("__v"))
      .agg(count(lit(1)).as("__f"))
    val vals = if (storage == none) vals0 else vals0.persist(storage)
    val ranks = valueRanks(vals, descending = true, buckets = buckets)
    val rankCols = signals.zipWithIndex.map { case ((n, _), i) =>
      max(when(col("__sig") === i, col("rank"))).as(s"rank_$n") }
    val pivoted = melted.join(ranks, Seq("__sig", "__v"), "left")
      .groupBy(col("doc_id"))
      .agg(rankCols.head, rankCols.tail: _*)
    val rrf = signals.map { case (n, _) =>
      coalesce(expr(s"$scale DIV ($k + rank_$n)"), lit(0L)) }.reduce(_ + _)
    pivoted.select(col("doc_id") +:
      signals.map { case (n, _) => col(s"rank_$n") } :+
      rrf.as("rrf_score"): _*)
  }

  /** HTML → text cleaning — the scraper-output normalization pass that
    * runs before any text statistic sees a crawled page: drop
    * script/style payloads (code, not prose), comments, then every
    * tag (replaced by a space so `</p><p>` boundaries don't weld
    * words), decode the five predefined XML entities + `&nbsp;`
    * (AFTER tag removal — entity-encoded brackets are text, not
    * markup; `&amp;` decodes LAST so `&amp;lt;` correctly yields the
    * literal `&lt;`), and squeeze whitespace.
    *
    * Pure `regexp_replace` chain — codegen'd, map-only, and every
    * pattern is in the Java∩RE2 common dialect so DuckDB mirrors it
    * with the same patterns + the 'g' flag (engine-portable like the
    * PII set). Deliberately the standard regex-level strip (the
    * trafilatura/jusText content-extraction family is out of scope);
    * pathological markup (tags inside attribute strings) degrades to
    * extra whitespace, never to lost text. */
  def stripHtml(text: Column): Column = {
    val noScript = regexp_replace(text,
      "(?is)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val noComment = regexp_replace(noScript, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]*>", " ")
    val entities = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
    val decoded = entities.foldLeft(noTags) { case (c, (e, v)) =>
      regexp_replace(c, e, v) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Banned-term screen — which of a FIXED blocklist's terms (words or
    * multi-word phrases; substring semantics) each document contains,
    * in ONE Aho–Corasick pass per document regardless of list size
    * (the UT1-blocklist-style safety/policy gate: a `contains` chain
    * rescans the text per term, the automaton never does). Terms are
    * case-folded with the text (Locale.ROOT ↔ SQL `lower`, the proven
    * oracle pair on ASCII blocklists).
    *
    * Scale shape: the automaton builds once at plan time and rides
    * into codegen as a reference object; the screen is map-only —
    * fuses into the scan, nothing shuffles.
    *
    * Output: (doc_id, n_banned, first_ordinal — lowest matched term
    * ordinal or null, flagged). */
  def bannedTermScreen(df: DataFrame, id: Column, text: Column,
      terms: Seq[String]): DataFrame = {
    val lowered = terms.map(_.toLowerCase(java.util.Locale.ROOT))
    require(lowered.distinct.size == lowered.size,
      "banned terms must be distinct after case folding")
    df.select(id.as("doc_id"),
        graft.functions.Functions.multiContains(lower(text), lowered)
          .as("__hits"))
      .select(col("doc_id"),
        size(col("__hits")).cast("long").as("n_banned"),
        when(size(col("__hits")) > 0, element_at(col("__hits"), 1))
          .cast("long").as("first_ordinal"),
        (size(col("__hits")) > 0).as("flagged"))
  }

  /** Blocklist calibration view — corpus-wide hit counts per banned
    * term, INCLUDING zero-hit terms (dead weight a blocklist owner
    * should prune; an explode-then-count would silently drop them):
    * one [[bannedTermScreen]]-style automaton pass per document, hits
    * exploded to (ordinal, doc) and counted, then right-joined onto
    * the term list so every term reports.
    *
    * Scale shape: the automaton walk is map-only; the only exchange is
    * the partial-agg collapse to ≤ |terms| rows, and the term-list
    * join is a broadcast of a literal array.
    *
    * Output: (ordinal, term, n_docs) — docs containing the term at
    * least once, case-folded like the screen. */
  def bannedTermStats(df: DataFrame, text: Column,
      terms: Seq[String]): DataFrame = {
    val lowered = terms.map(_.toLowerCase(java.util.Locale.ROOT))
    require(lowered.distinct.size == lowered.size,
      "banned terms must be distinct after case folding")
    val counts = df.select(graft.functions.Functions.multiContains(
        lower(text), lowered).as("__hits"))
      .select(explode(col("__hits")).as("ordinal"))
      .groupBy(col("ordinal")).agg(count(lit(1)).as("n_docs"))
    val termsDf = df.sparkSession.range(1)
      .select(posexplode(typedLit(lowered)).as(Seq("ordinal", "term")))
    termsDf.join(counts, Seq("ordinal"), "left")
      .select(col("ordinal").cast("long").as("ordinal"), col("term"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  /** Tokenizer fertility per stratum — BPE tokens per word by source,
    * THE statistic for judging how well a trained tokenizer fits each
    * corpus slice (fertility near 1 = words mostly single tokens;
    * high fertility = the vocabulary underserves that source and its
    * effective context shrinks). Integer permille
    * (Σ bpe_tokens · 1000 DIV Σ words).
    *
    * Scale shape: [[bpeEncodeCounts]]'s per-doc costs (vocabulary-
    * collapsed tokenize, map-only merge fold) joined doc-keyed to the
    * stratum map, collapsed to |strata| rows in one hash aggregate.
    *
    * Output: (stratum, n_words, n_bpe_tokens, fertility_permille). */
  def bpeFertility(df: DataFrame, id: Column, stratum: Column,
      text: Column, merges: Seq[(String, String)]): DataFrame = {
    val counts = bpeEncodeCounts(df, id, text, merges)
    val strata = df.select(id.as("doc_id"), stratum.as("stratum"))
    counts.join(strata, Seq("doc_id"))
      .groupBy(col("stratum"))
      .agg(sum(col("n_words")).as("n_words"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
      .select(col("stratum"), col("n_words"), col("n_bpe_tokens"),
        expr("n_bpe_tokens * 1000 DIV n_words").as("fertility_permille"))
  }

  // -- language identification -------------------------------------------

  /** Normalized char stream for language ID: the first `maxChars`
    * CODE POINTS of the raw text (see below), lower-cased, every
    * non-[a-z] run collapsed to one space, padded with one space each
    * side (so word-boundary trigrams like " th"/"he " exist — the
    * strongest language cues in the classic profile method). Only
    * ASCII letters survive, so lower() is engine-identical.
    *
    * The prefix cap is the megadoc bound: classification saturates
    * after a few KB of text (Cavnar–Trenkle classify on the document
    * HEAD — the d most frequent trigrams of 4 KB and of 10 MB of the
    * same language are the same grams), so reading past the cap buys
    * no accuracy while making per-row work O(document length) — one
    * pathological megadoc (concatenated logs, minified JS surviving
    * stripHtml) would otherwise dominate its whole task. Applied to
    * the RAW text BEFORE lower() (unicode lowercase can change code
    * point counts), counted in code points — identical in Spark
    * (`Substring` → `UTF8String.substringSQL`), DuckDB (`substr`) and
    * the kernel (which calls the same UTF8String method). */
  private def langIdNorm(text: Column, maxChars: Int): Column =
    concat(lit(" "),
      trim(regexp_replace(lower(substring(text, 1, maxChars)),
        "[^a-z]+", " ")), lit(" "))

  /** Explode a pre-normalized stream into one row per trigram
    * POSITION (occurrences counted, not distinct) — the
    * positions-explode idiom (the n-gram shingles at Dedup.scala:64):
    * the generator emits an integer per position and the 3-char
    * substr projects right after, so no operator ever holds an
    * O(length) array of gram strings in one row (the materialized
    * `transform(sequence(...))` form held |chars| 3-char strings per
    * document — a single-row memory cliff on megadocs; the positions
    * array that remains is ints, 5-10× lighter, and ≤ maxChars
    * entries under [[langIdNorm]]'s cap). The stream must arrive as a
    * MATERIALIZED column named `s` (select langIdNorm first). Docs
    * shorter than one gram explode an empty array and vanish — a
    * when() guard rather than a filter() on purpose: predicate
    * pushdown rewrites a filter on `s` in terms of the RAW text,
    * re-running the normalization regex a second time per row. */
  private def trigramRows(df: DataFrame, keep: Column*): DataFrame =
    df.select(keep :+ col("s") :+
        explode(when(length(col("s")) >= 3,
          sequence(lit(1), length(col("s")) - 2))
          .otherwise(typedLit(Array.empty[Int]))).as("i"): _*)
      .select(keep :+ col("s").substr(col("i"), lit(3)).as("gram"): _*)

  /** Train per-language char-trigram rank profiles from a labeled
    * seed — the classic out-of-place profile method (Cavnar–Trenkle
    * 1994, "N-Gram-Based Text Categorization"), all-integer and
    * therefore engine-portable bit-for-bit (no log-likelihood floats
    * to drift): a language's profile is its `m` most frequent
    * trigrams ranked 1..m (ties broken by gram, so the profile is a
    * pure function of the seed).
    *
    * Scale shape: one explode (|chars| rows, collapsed map-side by
    * the partial (lang, gram) aggregate) + the bounded
    * [[graft.functions.GramTopKAggregator]] keyed by LANG (k = m) —
    * the same aggregator that bounds the classifier's doc-profile
    * stage, one stage upstream: partial aggregation ships ≤ m rows
    * per language per map task, so no stage ever re-shuffles the
    * distinct (lang, gram) frame into |langs| single tasks to sort
    * it (the `row_number` window form did exactly that — the
    * per-key-serial straggler shape the skew probe measured at
    * 2.4–2.9×, triggered by any corpus-scale labeled seed whose
    * gram domain is NOT a priori bounded: real unicode seeds carry
    * millions of distinct grams per language, not the 27³ of the
    * pure-ASCII alphabet). Top-k under the total order (cnt desc,
    * gram asc — grams are distinct per language after the count) is
    * merge-order-insensitive, so the result is bit-identical to the
    * window form (equivalence spec-pinned; the seven lang-family
    * oracle hashes are unchanged). The output model stays tiny by
    * construction (|langs| · m rows).
    *
    * Output: (lang, gram, rank) with rank 1..m per language. */
  def langIdProfiles(seed: DataFrame, lang: Column, text: Column,
      m: Int = 64, maxChars: Int = 4096): DataFrame = {
    require(m >= 1 && m <= 4096, "m must be in [1, 4096]")
    require(maxChars >= 3, "maxChars must fit at least one trigram")
    val topm = udaf(new graft.functions.GramTopKAggregator(m))
    trigramRows(
        seed.select(lang.as("lang"), langIdNorm(text, maxChars).as("s")),
        col("lang"))
      .groupBy(col("lang"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("lang"))
      .agg(topm(col("gram"), col("cnt")).as("prof"))
      .select(col("lang"),
        posexplode(col("prof.items")).as(Seq("pos", "e")))
      .select(col("lang"), col("e.gram").as("gram"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Classify each document against trained [[langIdProfiles]]: build
    * the doc's own top-`d` trigram rank profile, score it against
    * every language as the summed out-of-place distance (|doc rank −
    * language rank|, `penalty` when the language profile lacks the
    * gram — classically penalty = m), and pick the minimum-distance
    * language (ties broken toward the lexicographically smaller lang,
    * encoded by taking the min of the zero-padded "dist‖lang" string
    * — the same sortable-key trick as the epoch shuffle). Documents
    * with no trigrams (empty after normalization) are unclassifiable
    * and excluded.
    *
    * The model frame is resolved EAGERLY at call time (bounded:
    * |langs|·m rows — the kmvOverlap discipline) so the training
    * subplan runs ONCE — referenced lazily it would re-evaluate per
    * consumer.
    *
    * Scale shape (optimization r17): classification is ONE narrow
    * `mapPartitions` pass over (doc_id, text) scoring each row with
    * the broadcast in-memory model via [[langIdKernel]] — the kernel
    * whose bit-equivalence with the former declarative form
    * (trigram positions-explode → (doc, gram) hash aggregate →
    * bounded GramTopKAggregator → broadcast model join → two more
    * doc-keyed aggregates) is spec-pinned including a ScalaCheck
    * random-unicode sweep. A document's trigram profile depends only
    * on its own row, so the aggregate shape paid two full exchanges
    * of the ~corpus-characters (doc, gram) frame for a computation
    * that needs none: the map form is embarrassingly parallel, zero
    * shuffle, zero join, per-row work capped by `maxChars`, and at
    * 100 TB it fuses into the scan. (Precondition, unchanged from
    * every call site: `id` identifies the document — one input row
    * per doc. The former groupBy silently merged duplicate ids;
    * feeding duplicates was never meaningful.)
    *
    * Output: (doc_id, pred_lang, dist). */
  def langId(df: DataFrame, id: Column, text: Column,
      profiles: DataFrame, penalty: Int = 64, d: Int = 32,
      maxChars: Int = 4096): DataFrame = {
    require(d >= 1 && penalty >= 1, "d and penalty must be positive")
    require(maxChars >= 3, "maxChars must fit at least one trigram")
    val spark = df.sparkSession
    val modelRows = profiles
      .select(col("lang").cast("string").as("lang"),
        col("gram").cast("string").as("gram"),
        col("rank").cast("long").as("rl"))
      .collect()
    require(modelRows.nonEmpty, "profiles must carry at least one language")
    // the sortable-key argmin packed each distance into 6 digits; the
    // kernel needs no string key, but the guard stays — it is the
    // function's documented contract (spec-pinned), and keeping the
    // domain identical keeps every caller's failure surface identical
    val maxRl = modelRows.map(_.getLong(2)).max
    val perGramMax = math.max(math.max(penalty.toLong, maxRl - 1), d - 1L)
    require(d.toLong * perGramMax <= 999999L,
      s"d=$d * max(penalty=$penalty, maxRank-1=${maxRl - 1}) exceeds " +
        "the 6-digit distance key")
    val model: Map[String, Map[String, Long]] = modelRows
      .groupBy(_.getString(0))
      .map { case (l, rows) =>
        l -> rows.map(r => r.getString(1) -> r.getLong(2)).toMap }
    val bc = spark.sparkContext.broadcast(model)
    val in = df.select(id.as("doc_id"), text.cast("string").as("__text"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      in.schema.fields(0).copy(name = "doc_id"),
      org.apache.spark.sql.types.StructField("pred_lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("dist",
        org.apache.spark.sql.types.LongType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    in.mapPartitions { it =>
      val m = bc.value
      val classify = langIdKernel(m, penalty, d, maxChars) _
      it.flatMap { r =>
        classify(if (r.isNullAt(1)) null else r.getString(1)).map {
          case (lang, dist) =>
            org.apache.spark.sql.Row(r.get(0), lang, dist)
        }
      }
    }(enc)
  }

  /** Collect trained [[langIdProfiles]] into the in-memory model the
    * per-row kernel scores against: lang → (gram → rank). Bounded by
    * construction (|langs| · m entries). */
  def langIdModel(profiles: DataFrame): Map[String, Map[String, Long]] =
    profiles.select(col("lang").cast("string"),
        col("gram").cast("string"), col("rank").cast("long"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (l, rows) =>
        l -> rows.map(r => r.getString(1) -> r.getLong(2)).toMap }

  /** Persist a trained [[langIdProfiles]] model as the SHIPPED
    * artifact — the train→ship half of the model lifecycle (q175
    * materializes this frame; this writes it in the canonical
    * serving schema). One parquet file: the model is |langs|·m rows
    * by construction, and a single file round-trips bit-exactly with
    * no partition-order ambiguity. */
  def saveLangModel(profiles: DataFrame, path: String): Unit =
    profiles
      .select(col("lang").cast("string").as("lang"),
        col("gram").cast("string").as("gram"),
        col("rank").cast("long").as("rank"))
      .coalesce(1)
      .write.mode("overwrite").parquet(path)

  /** Load a shipped model for serving — the serve half: the returned
    * frame drives [[langId]] / [[langIdModel]] (and through them the
    * streaming classifiers and
    * [[graft.pipelines.CorpusPipeline.multilingualBuild]]) exactly
    * like a live-trained frame; the round-trip is spec-pinned
    * bit-identical. Schema is validated LOUDLY at load (an
    * arbitrary parquet with the wrong columns must fail here, not as
    * an AnalysisException deep inside a consumer), and each
    * language's ranks must be exactly 1..k — the contract every
    * scorer assumes (a truncated or doctored artifact would
    * silently skew out-of-place distances). */
  def loadLangModel(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val raw = spark.read.parquet(path)
    val missing = Seq("lang", "gram", "rank")
      .filterNot(raw.columns.toSet)
    require(missing.isEmpty,
      s"$path is not a langIdProfiles artifact: missing column(s) " +
        missing.mkString(", "))
    val model = raw.select(col("lang").cast("string").as("lang"),
      col("gram").cast("string").as("gram"),
      col("rank").cast("long").as("rank"))
    // |langs|·m-bounded: validating eagerly costs one tiny scan and
    // catches corruption at the artifact boundary
    val bad = model.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), min(col("rank")).as("lo"),
        max(col("rank")).as("hi"),
        countDistinct(col("rank")).as("nd"))
      .filter(col("lo") =!= 1L || col("hi") =!= col("n") ||
        col("nd") =!= col("n"))
      .select(col("lang")).collect().map(_.getString(0)).sorted
    require(bad.isEmpty,
      s"$path carries non-contiguous ranks for language(s) " +
        bad.mkString(", ") + " (expected exactly 1..k per language)")
    model
  }

  /** Persist a trained [[bpeTrainMerges]] merge table as the SHIPPED
    * tokenizer artifact — the BPE member of the train→ship→serve
    * loop (the langIdProfiles precedent): canonical (round, pair_a,
    * pair_b, merged, cnt) schema, one parquet file (the table is
    * |merges| rows by construction). Batched-trainer frames
    * ([[bpeTrainMergesBatched]]) ship the same way after renaming
    * `merge_no` to `round` — the global merge ORDER is the artifact's
    * load-bearing column, and `round` is its canonical name. */
  def saveBpeMerges(merges: DataFrame, path: String): Unit =
    merges
      .select(col("round").cast("long").as("round"),
        col("pair_a").cast("string").as("pair_a"),
        col("pair_b").cast("string").as("pair_b"),
        col("merged").cast("string").as("merged"),
        col("cnt").cast("long").as("cnt"))
      .coalesce(1)
      .write.mode("overwrite").parquet(path)

  /** Load a shipped merge table for serving. Validated LOUDLY at the
    * artifact boundary (the loadLangModel contract): the canonical
    * columns must exist, rounds must be exactly 1..n (the merge fold
    * applies IN ORDER — a gap or duplicate would silently reorder or
    * drop merges and change every token count downstream), and each
    * row's `merged` must equal `pair_a || pair_b` (the fold's
    * replacement target). */
  def loadBpeMerges(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val raw = spark.read.parquet(path)
    val missing = Seq("round", "pair_a", "pair_b", "merged", "cnt")
      .filterNot(raw.columns.toSet)
    require(missing.isEmpty,
      s"$path is not a bpeTrainMerges artifact: missing column(s) " +
        missing.mkString(", "))
    val table = raw.select(col("round").cast("long").as("round"),
      col("pair_a").cast("string").as("pair_a"),
      col("pair_b").cast("string").as("pair_b"),
      col("merged").cast("string").as("merged"),
      col("cnt").cast("long").as("cnt"))
    // |merges|-bounded: one tiny eager scan at the boundary
    val stats = table.agg(count(lit(1)).as("n"),
        min(col("round")).as("lo"), max(col("round")).as("hi"),
        countDistinct(col("round")).as("nd"),
        count(when(col("merged") =!=
          concat(col("pair_a"), col("pair_b")), 1)).as("bad"))
      .collect()(0)
    require(stats.getLong(0) == 0L ||
      (stats.getLong(1) == 1L && stats.getLong(2) == stats.getLong(0) &&
        stats.getLong(3) == stats.getLong(0)),
      s"$path carries non-contiguous merge rounds (expected exactly " +
        "1..n; the fold applies in order)")
    require(stats.getLong(4) == 0L,
      s"$path carries ${stats.getLong(4)} row(s) whose merged symbol " +
        "is not pair_a || pair_b")
    table
  }

  /** Collect a merge table into the ordered pair list
    * [[bpeEncodeCounts]]/[[bpeFertility]] consume — the serve-side
    * twin of the `.orderBy(round).collect()` every caller writes by
    * hand (bounded: |merges| rows). */
  def bpeMergePairs(merges: DataFrame): Seq[(String, String)] =
    merges.select(col("pair_a").cast("string"),
        col("pair_b").cast("string"), col("round").cast("long"))
      .collect()
      .sortBy(_.getLong(2))
      .map(r => r.getString(0) -> r.getString(1)).toSeq

  /** Pure per-row classifier kernel — the SAME out-of-place method as
    * [[langId]], for contexts where a document is one row and a
    * per-doc aggregate is the wrong shape (streaming micro-batches,
    * per-partition enrichment — the parser precedent: heavy per-row
    * logic lives in plain Scala). Equivalence with the declarative
    * form is load-bearing and pinned by spec (including a ScalaCheck
    * sweep over random unicode): the lowercase IS Spark's own
    * (`UTF8String.toLowerCase`, the kernel behind the `lower`
    * expression — a JVM-locale lowercase can disagree on unicode
    * edge cases), the non-letter collapse is the same Java regex
    * `regexp_replace` compiles, same (count desc, gram asc) profile
    * order, same (dist, lang) argmin — and the same `maxChars` prefix
    * cap, taken through Spark's own `UTF8String.substringSQL` (code
    * points, the kernel behind the `substring` expression; a Java
    * `String.substring` counts UTF-16 units and would split surrogate
    * pairs on astral-plane text).
    *
    * Returns None for gramless docs (the declarative form excludes
    * them). */
  def langIdKernel(model: Map[String, Map[String, Long]], penalty: Int,
      d: Int, maxChars: Int = 4096)(text: String): Option[(String, Long)] = {
    if (text == null) return None
    val lowered = org.apache.spark.unsafe.types.UTF8String
      .fromString(text).substringSQL(1, maxChars).toLowerCase.toString
    val s = " " + LangIdNonLetter.matcher(lowered).replaceAll(" ").trim + " "
    if (s.length < 3) return None
    // count trigram occurrences (hot path: one HashMap, no per-gram
    // Seq allocation — output identical to the former
    // groupBy(identity).mapValues(_.size))
    val counts = new java.util.HashMap[String, Integer](64)
    var i = 0
    val last = s.length - 3
    while (i <= last) {
      counts.merge(s.substring(i, i + 3), Integer.valueOf(1), IntSum)
      i += 1
    }
    // top-d under the profile total order (cnt desc, gram asc)
    val entries = new java.util.ArrayList[java.util.Map.Entry[String, Integer]](
      counts.entrySet())
    java.util.Collections.sort(entries, GramOrder)
    val nTop = math.min(d, entries.size)
    // argmin over languages of the summed out-of-place distance;
    // ties break toward the lexicographically smaller lang — same
    // total order as the former minBy((dist, lang))
    var bestLang: String = null
    var bestDist = Long.MaxValue
    model.foreach { case (l, prof) =>
      var dist = 0L
      var j = 0
      while (j < nTop) {
        val g = entries.get(j).getKey
        val rl = prof.getOrElse(g, -1L)
        dist += (if (rl < 0) penalty.toLong else math.abs((j + 1L) - rl))
        j += 1
      }
      if (dist < bestDist || (dist == bestDist && l < bestLang)) {
        bestLang = l; bestDist = dist
      }
    }
    // empty model: same failure class as the former minBy on an empty
    // scores Seq (loud, not a silent None)
    if (bestLang == null)
      throw new UnsupportedOperationException(
        "langIdKernel: empty model (no languages)")
    Some((bestLang, bestDist))
  }

  /** Hot-path statics for [[langIdKernel]]: the normalization regex
    * compiled once (the Java pattern `regexp_replace` compiles — same
    * semantics as the former per-call `String.replaceAll`), the
    * HashMap merge function, and the (cnt desc, gram asc) profile
    * order. */
  private val LangIdNonLetter = java.util.regex.Pattern.compile("[^a-z]+")
  private val IntSum: java.util.function.BiFunction[Integer, Integer, Integer] =
    (a: Integer, b: Integer) => Integer.valueOf(a.intValue + b.intValue)
  private val GramOrder:
      java.util.Comparator[java.util.Map.Entry[String, Integer]] =
    (a: java.util.Map.Entry[String, Integer],
        b: java.util.Map.Entry[String, Integer]) => {
      val c = Integer.compare(b.getValue, a.getValue) // cnt desc
      if (c != 0) c else a.getKey.compareTo(b.getKey) // gram asc
    }

  /** Language-mix DRIFT alert over windowed classification counts —
    * the reference's AlertSummary pane comparison (ref
    * postprocessing/AlertSummary.java, the pane split + Evaluator
    * percent compare the repo implements exactly in q71's
    * `alertSummaryPanes`) re-keyed by predicted language: the
    * ingestion question a multilingual corpus build actually asks
    * ("did the crawl's language mix move window over window?").
    *
    * Input: a (window_start_ms, pred_lang, n_docs) frame — q162's /
    * [[graft.streaming.Streaming.langIdStream]]'s shape. Each window
    * joins its immediate predecessor per language (both halves must
    * exist — the reference's empty-half skip); the shift is the
    * truncated integer percent |new − old| · 100 DIV old, all-integer
    * on non-negative operands so the DuckDB mirror (`//`) is
    * bit-exact; strict `>` compare like the reference's Evaluator;
    * two tiers: > critPct → critical, else > warnPct → warn.
    * `minCount` gates noise on the LARGER half — deliberately not the
    * reference's new-half-only floor, which would mask the one event
    * a drift monitor must never miss (a language COLLAPSING to
    * near-zero has a tiny new half).
    *
    * Scale shape: the input is already aggregate-sized (windows ×
    * langs — bounded by time horizon, not corpus); the predecessor
    * lookup is one equi-join on the compound key — no window
    * function, no skew surface.
    *
    * Output: (window_start_ms, pred_lang, old_n, new_n, pct_change,
    * severity). */
  def langMixDrift(counts: DataFrame, windowMs: Long, warnPct: Int,
      critPct: Int, minCount: Long): DataFrame = {
    require(windowMs > 0, "windowMs must be positive")
    require(warnPct > 0 && critPct >= warnPct,
      "need 0 < warnPct <= critPct")
    val prev = counts.select(
      (col("window_start_ms") + windowMs).as("window_start_ms"),
      col("pred_lang"), col("n_docs").as("old_n"))
    counts.select(col("window_start_ms"), col("pred_lang"),
        col("n_docs").as("new_n"))
      .join(prev, Seq("window_start_ms", "pred_lang"))
      .filter(greatest(col("new_n"), col("old_n")) >= minCount)
      .withColumn("pct_change",
        expr("abs(new_n - old_n) * 100 DIV old_n"))
      .filter(col("pct_change") > warnPct)
      .withColumn("severity",
        when(col("pct_change") > critPct, lit("critical"))
          .otherwise(lit("warn")))
      .select(col("window_start_ms"), col("pred_lang"), col("old_n"),
        col("new_n"), col("pct_change"), col("severity"))
  }
}
