package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus sampling operators for training-data pipelines. A data
  * mixture is built by DOWN-sampling each source/stratum to a target
  * rate (The Pile, Gopher/MassiveText and LLaMA all publish per-source
  * sampling weights); at 100 TB the sampling decision must be a pure
  * function of the row — no RNG state, no coordination — so the same
  * command reproduces the same corpus on any cluster layout, and the
  * decision predicate sits directly on the scan.
  */
object Sampling {

  /** Deterministic hash-stratified sampling: keep a row iff
    * `bucket(id, stratum) < floor(rate(stratum) * 256)` where the
    * bucket is the first byte of `md5("<id>:<stratum>")` — uniform in
    * [0, 256), engine-portable (any engine with md5 reproduces the
    * exact sample), and independent across strata because the stratum
    * is hashed with the id.
    *
    * Scale shape: map-only — the predicate is a codegen'd md5+compare
    * on the scan, there is NO shuffle, no sort, no RNG seed plumbing;
    * rate granularity is 1/256 (sufficient for mixture weights, which
    * published pipelines quote at whole-percent granularity).
    * Compared to `df.sample`: reproducible across runs/partitionings,
    * per-stratum rates in one pass, and joins/anti-joins over the
    * SAME id set stay consistent (the sample is a function of the
    * data, not of the task layout).
    */
  def stratifiedSample(df: DataFrame, id: Column, stratum: Column,
      rates: Map[String, Double], defaultRate: Double): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 1),
      "rates must be in [0, 1]")
    val bucket = conv(substring(
      md5(concat(id.cast("string"), lit(":"), stratum)), 1, 2), 16, 10)
      .cast("long")
    val threshold = rates.foldLeft(
      lit(math.floor(defaultRate * 256).toLong)) { case (acc, (k, r)) =>
      when(stratum === k, lit(math.floor(r * 256).toLong)).otherwise(acc)
    }
    df.filter(bucket < threshold)
  }

  /** Deterministic train/validation/test assignment: the row's
    * md5-bucket (same construction as [[stratifiedSample]], salted so
    * split and sampling decisions are independent) is mapped onto
    * cumulative fraction boundaries in 1/256 granularity. A pure
    * function of (id, salt): re-runs, re-partitions and other engines
    * reproduce the exact assignment, and a document can never migrate
    * between splits when the corpus around it changes — the property
    * that keeps eval sets honest across corpus versions.
    *
    * `fractions` is (name -> fraction) in the order given; names get
    * the bucket ranges cumulatively and any remainder falls to the
    * LAST split. Map-only: a codegen'd md5 + case chain on the scan,
    * no shuffle. */
  def assignSplit(df: DataFrame, id: Column,
      fractions: Seq[(String, Double)], salt: String = "split"): DataFrame = {
    require(fractions.nonEmpty, "at least one split")
    require(fractions.forall(_._2 >= 0), "fractions must be non-negative")
    require(fractions.map(_._2).sum <= 1.0 + 1e-9,
      "fractions must sum to at most 1")
    val bucket = conv(substring(
      md5(concat(id.cast("string"), lit(":"), lit(salt))), 1, 2), 16, 10)
      .cast("long")
    val bounds = fractions.scanLeft(0.0) { case (acc, (_, f)) => acc + f }
      .tail.map(f => math.floor(f * 256).toLong)
    val assigned = fractions.map(_._1).zip(bounds)
      .foldRight(lit(fractions.last._1)) { case ((name, bound), acc) =>
        when(bucket < bound, lit(name)).otherwise(acc)
      }
    df.withColumn("split", assigned)
  }

  /** Length-bucketed batching plan — the padding-waste ledger behind
    * bucketed batching (batch docs of similar length together so a
    * batch pads to its own max, not the corpus max): docs bucket by
    * `floor(log2(n_tokens))` (the power-of-two scheme most loaders
    * use), and each bucket reports its doc count, real token mass,
    * padded mass (n_docs·bucket_max — what a batch drawn from this
    * bucket pays), and waste in integer permille. Compare
    * `waste_permille` against the single-bucket alternative to
    * justify the bucket count.
    *
    * The bucket index is pure integer arithmetic
    * (`length(bin(n)) − 1` = floor(log2 n) for positive n — the
    * [[graft.operators.TextAnalysis]] ilog2 discipline, no float
    * log); one partial-agg hash aggregate on the bucket key.
    *
    * Output: (bucket, min_tokens, max_tokens, n_docs, token_mass,
    * padded_mass, waste_permille); empty docs are out of scope (no
    * defined bucket). */
  def lengthBucketPlan(df: DataFrame, id: Column, nTokens: Column): DataFrame =
    df.select(id.as("doc_id"), nTokens.cast("long").as("n"))
      .filter(col("n") >= 1)
      .withColumn("bucket", (length(bin(col("n"))) - 1).cast("long"))
      .groupBy(col("bucket"))
      .agg(min(col("n")).as("min_tokens"), max(col("n")).as("max_tokens"),
        count(lit(1)).as("n_docs"), sum(col("n")).as("token_mass"))
      .withColumn("padded_mass", col("n_docs") * col("max_tokens"))
      .withColumn("waste_permille",
        expr("(padded_mass - token_mass) * 1000 DIV padded_mass"))

  /** Cross-split leakage audit — the check every train/test split
    * needs and hash-based splitting alone cannot give: a NEAR-copy of
    * a training document landing in the test split inflates eval
    * (the deduplication papers' core motivation), and [[assignSplit]]
    * splits by doc_id hash, which is blind to content. This composes
    * the split assignment with the banded minhash candidate join:
    * near-dup pairs whose members sit in DIFFERENT splits are the
    * leaks, reported with their split names and signature-agreement
    * evidence. Fixing policy is the caller's (move the test member
    * out, or drop it); the audit is the operator.
    *
    * Scale shape: exactly [[graft.operators.Dedup.minhashLshPairs]]
    * (banded equi-join, never all-pairs) plus two doc-keyed joins of
    * the id→split map — the split map is (doc_id, 8-byte string),
    * narrow by construction.
    *
    * Output: (doc_a, doc_b, split_a, split_b, n_match, est_jaccard),
    * cross-split pairs only. */
  def splitLeakage(df: DataFrame, id: Column, text: Column,
      fractions: Seq[(String, Double)], n: Int, numHashes: Int,
      bands: Int, minEstJaccard: Double,
      salt: String = "split"): DataFrame = {
    val splits = assignSplit(df.select(id.as("doc_id")), col("doc_id"),
      fractions, salt).select(col("doc_id"), col("split"))
    graft.operators.Dedup
      .minhashLshPairs(df, id, text, n, numHashes, bands, minEstJaccard)
      .join(splits.select(col("doc_id").as("doc_a"),
        col("split").as("split_a")), Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"),
        col("split").as("split_b")), Seq("doc_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"),
        col("n_match"), col("est_jaccard"))
  }

  /** Sequence-packing plan — the deterministic "concatenate and chunk"
    * layout every LM training pipeline runs last: documents are laid
    * end to end in a canonical order and the token stream is cut into
    * fixed `ctxLen` windows. For each document the plan reports its
    * global token offset, the context window (`bin_first`) its first
    * token lands in, and whether it straddles a window boundary
    * (`crosses` — the fraction of boundary-crossing docs is the
    * attention-contamination metric packing policies optimize).
    *
    * Layout order is (shard, doc_id): a pure function of the data, so
    * the same corpus always packs identically on any cluster layout —
    * the same reproducibility contract as [[stratifiedSample]].
    *
    * Scale shape: ONE window cumulative sum partitioned by `shard`.
    * Real pipelines pack per shard/worker-file anyway (a single global
    * token stream would serialize reading), so the window partitions by
    * the shard key and the plan is one exchange + one in-partition
    * running sum — no global sort, no driver state. A degenerate
    * single-shard call is the global-order special case and costs one
    * range-partitioned sort, which is still the right shape when a
    * single canonical stream is genuinely required. */
  def packingPlan(df: DataFrame, id: Column, nTokens: Column,
      shard: Column, ctxLen: Long): DataFrame = {
    require(ctxLen >= 1, "ctxLen must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.select(shard.as("shard"), id.as("doc_id"),
        nTokens.cast("long").as("n_tokens"))
      .withColumn("start_offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      // integer DIV, not floor(double /): a global token offset is
      // exactly the kind of counter that outgrows a double's 2^53
      // integer range at real corpus size
      .withColumn("last_token",
        col("start_offset") + greatest(col("n_tokens"), lit(1L)) - 1)
      .withColumn("bin_first", expr(s"start_offset DIV $ctxLen"))
      .withColumn("bin_last", expr(s"last_token DIV $ctxLen"))
      .withColumn("crosses", col("bin_last") > col("bin_first"))
      .drop("last_token")
  }

  /** Mixture planning — the aggregation that produces
    * [[stratifiedSample]]'s rate table: given a target mixture weight
    * per stratum and a global size budget (tokens/chars), compute per
    * stratum the available mass, the target mass
    * (`floor(budget * weight)`), and the keep threshold in the SAME
    * 1/256 bucket granularity the sampler enforces —
    * `least(256, floor(target*256 / available))`, capped because a
    * stratum cannot yield more than it has (published mixtures
    * up-weight by epochs, not by sampling > 100%).
    *
    * Scale shape: one partial-agg groupBy on the stratum key (tens of
    * strata) — the plan is a single hash aggregate; everything after
    * the agg operates on a stratum-count-sized frame. */
  def mixturePlan(df: DataFrame, stratum: Column, size: Column,
      weights: Map[String, Double], defaultWeight: Double,
      budget: Long): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(_ >= 0),
      "weights must be non-negative")
    require(budget >= 0, "budget must be non-negative")
    val weight = weights.foldLeft(lit(defaultWeight)) {
      case (acc, (k, w)) => when(col("stratum") === k, lit(w)).otherwise(acc)
    }
    df.groupBy(stratum.as("stratum"))
      .agg(count(lit(1)).as("n_docs"), sum(size).cast("long").as("available"))
      .withColumn("target", floor(lit(budget.toDouble) * weight).cast("long"))
      .withColumn("bucket_threshold",
        least(lit(256L),
          floor(col("target") * 256 / col("available")).cast("long")))
      .select(col("stratum"), col("n_docs"), col("available"),
        col("target"), col("bucket_threshold"))
  }

  /** Temperature-smoothed mixture weights — the multilingual/
    * multi-source sampling smoothing of mBERT and XLM-R (Conneau et
    * al. 2020 §3.1: sample stratum i with p_i ∝ (n_i/N)^α, α<1, so
    * low-resource strata are up-weighted relative to their raw share
    * and the head source cannot dominate training) — at the
    * integer-exact member α = 1/2: the smoothed mass is
    * `s_i = floor(sqrt(n_i)·2^16)`. IEEE-754 `sqrt` is correctly
    * rounded in every engine and multiplying by a power of two only
    * shifts the exponent, so s_i is an engine-portable integer;
    * every downstream statistic is integer arithmetic on the s_i —
    * no order-dependent double sums, no `pow` (whose last-ulp
    * rounding is implementation-defined and would make fractional α
    * engine-divergent; this is why α is pinned to the sqrt member).
    *
    * This produces the weight table [[mixturePlan]] consumes: run
    * this to DERIVE the mixture, mixturePlan to turn weights + a
    * budget into per-stratum keep thresholds.
    *
    * Scale shape: one partial-agg count on the stratum key, then a
    * 1-row total broadcast onto the stratum-count-sized frame — the
    * corpus is touched exactly once.
    *
    * Output per stratum: n_docs, raw_ppm (unsmoothed share),
    * weight_ppm (smoothed share), expected_docs under `budget` docs
    * (`budget·weight_ppm DIV 10^6` — computed via the ppm to stay
    * inside long range at any corpus size), and `upweighted`
    * (smoothed > raw — the low-resource strata the smoothing
    * exists to protect). */
  def temperatureWeights(df: DataFrame, stratum: Column,
      budget: Long): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    val counts = df.groupBy(stratum.as("stratum"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("s_i",
        floor(sqrt(col("n_docs").cast("double")) * 65536).cast("long"))
    val totals = counts.agg(sum(col("s_i")).as("s_tot"),
      sum(col("n_docs")).as("n_tot"))
    counts.crossJoin(broadcast(totals))
      .withColumn("raw_ppm", expr("n_docs * 1000000 DIV n_tot"))
      .withColumn("weight_ppm", expr("s_i * 1000000 DIV s_tot"))
      .withColumn("expected_docs",
        expr(s"$budget * weight_ppm DIV 1000000"))
      .withColumn("upweighted", col("weight_ppm") > col("raw_ppm"))
      .select(col("stratum"), col("n_docs"), col("raw_ppm"),
        col("weight_ppm"), col("expected_docs"), col("upweighted"))
  }

  /** Deterministic EXACT-k per-stratum sample — the fixed-size
    * complement to [[stratifiedSample]]'s rate-based keep: the k docs
    * whose salted md5 sorts lowest within each stratum. A pure
    * function of (doc_id, stratum, salt): re-running, re-partitioning
    * or re-ordering the corpus reproduces the identical sample, and a
    * different salt gives an independent draw (the
    * [[assignSplit]]/[[stratifiedSample]] independence argument).
    *
    * Scale shape: ranking rides [[graft.functions.TopKAggregator]] —
    * partial aggregation keeps at most k rows per stratum per map
    * task, so the shuffle moves O(k · strata · tasks) rows instead of
    * the whole corpus the row_number-window form would drag to each
    * stratum's reducer. The rank key is the md5's first 12 hex digits
    * as a long (48 bits — exact in the aggregator's double slot),
    * negated because the aggregator keeps HIGHEST first; ties (a
    * 48-bit prefix collision) break on doc_id ascending in both this
    * and the window/oracle form, which order by the hex string —
    * lexicographic on fixed-width lowercase hex IS the numeric
    * order.
    *
    * Output: (stratum, rank, doc_id), rank 1..k by sample order. */
  def exactKSample(df: DataFrame, id: Column, stratum: Column, k: Int,
      salt: String = "exactk"): DataFrame = {
    require(k >= 1, "k must be positive")
    val topk = udaf(new graft.functions.TopKAggregator(k))
    df.select(id.as("doc_id"), stratum.as("stratum"))
      .withColumn("rk",
        -conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(s":$salt:"), col("stratum"))), 1, 12), 16, 10)
          .cast("long").cast("double"))
      .groupBy(col("stratum"))
      .agg(topk(col("doc_id"), col("rk")).as("top"))
      .select(col("stratum"), posexplode(col("top.items")))
      .select(col("stratum"), (col("pos") + 1).cast("long").as("rank"),
        col("col.vecId").as("doc_id"))
  }

  /** Deterministic multi-epoch shuffle plan — the data-loader order
    * for several training passes: each epoch re-shuffles the corpus
    * into a DIFFERENT pseudo-random order (training on the same order
    * every epoch measurably hurts convergence — the reshuffle-per-
    * epoch contract every loader implements), and each (epoch, doc)
    * lands in a shard with a position and a running token offset, so
    * a 1000-worker job can open its shard and stream its slice with
    * no coordination.
    *
    * The order is a pure function of (epoch, salt, doc_id): the
    * per-epoch key is `md5("<epoch>:<salt>:<doc_id>")`, the shard is
    * the key's first 48 bits mod `nShards`, and within a shard docs
    * sort by the key (fixed-width lowercase hex — lexicographic IS
    * numeric order, the [[exactKSample]] argument), doc_id breaking
    * the (practically unreachable) tie. No RNG state, no seed
    * plumbing, no driver coordination: any engine reproduces the
    * exact order, and epoch e+1's order is independent of epoch e's
    * because the epoch number is hashed with the id.
    *
    * Scale shape: the explode multiplies rows by `epochs` — the
    * output IS the full multi-pass order, there is nothing smaller to
    * materialize — but each row carries only (doc_id, n_tokens, 32
    * hex chars); document text never enters. Then ONE exchange on
    * (epoch, shard) and ONE in-partition sort serve both window
    * expressions (row_number and the running token sum share the
    * window spec, so Spark plans a single Window operator over a
    * single sort). No global sort at any epoch count.
    *
    * Output: (epoch, shard, pos, doc_id, n_tokens, start_offset),
    * pos 1-based within (epoch, shard), start_offset the token offset
    * of the doc in its shard's stream. */
  def epochShuffle(df: DataFrame, id: Column, nTokens: Column,
      epochs: Int, nShards: Int, salt: String = "epoch"): DataFrame = {
    require(epochs >= 1, "epochs must be >= 1")
    require(nShards >= 1, "nShards must be >= 1")
    val base = df.select(id.as("doc_id"), nTokens.cast("long").as("n_tokens"))
      .withColumn("epoch", explode(sequence(lit(0L), lit((epochs - 1).toLong))))
      .withColumn("okey", md5(concat(col("epoch").cast("string"),
        lit(s":$salt:"), col("doc_id").cast("string"))))
      .withColumn("shard",
        pmod(conv(substring(col("okey"), 1, 12), 16, 10).cast("long"),
          lit(nShards.toLong)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("epoch"), col("shard"))
      .orderBy(col("okey"), col("doc_id"))
    base
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("start_offset", coalesce(sum(col("n_tokens")).over(
        w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("epoch"), col("shard"), col("pos"), col("doc_id"),
        col("n_tokens"), col("start_offset"))
  }

  /** Deterministic mixture interleave — stride scheduling (Waldspurger
    * & Weihl 1995) applied to training-data ordering: given integer
    * parts-per-million mixture weights per stratum (the
    * [[temperatureWeights]] output shape), every doc gets a virtual
    * time `vtime = rank_in_stratum · 10^6 DIV weight_ppm`, and the
    * within-shard order by (vtime, stratum, doc_id) interleaves
    * sources at their target rates from the very first batch: any
    * prefix of a shard's stream contains stratum s in proportion
    * ≈ weight_s — unlike concatenated-source layouts, where early
    * training sees only the first source. Pure integer arithmetic on
    * a salted-md5 rank: reproducible on any engine and cluster
    * layout, no RNG.
    *
    * Docs in a zero-weight stratum are dropped (weight 0 = never
    * scheduled), mirroring [[stratifiedSample]] at rate 0.
    *
    * Scale shape: two narrow windows — rank within (shard, stratum),
    * then position within shard — i.e. one exchange keyed
    * (shard, stratum) + one keyed (shard), each sorting rows of
    * (doc_id, stratum, 32 hex chars) only; text never enters, and
    * there is no global sort (shards are independent). The second
    * exchange is the price of a materialized per-shard position; at
    * 1000 shards both exchanges spread evenly by construction
    * (md5-uniform shard key).
    *
    * Output: (shard, pos, vtime, stratum, doc_id), pos 1-based within
    * shard by the interleave order. */
  /** Systematic probability-proportional-to-size sampling — THE
    * classical deterministic weighted design (Madow 1949): lay the
    * docs on a line in doc_id order, each occupying `weight` units
    * (token counts, byte sizes), then walk the line with a fixed
    * stride taking whatever doc each threshold lands in. Inclusion
    * count is exactly proportional to weight (a doc heavier than the
    * stride is taken MULTIPLE times — `n_copies` says how often),
    * Σn_copies == k exactly, and there is no float randomness to
    * drift across engines: step = max(total DIV k, 1), the offset is
    * the stride midpoint, everything integer.
    *
    * The global cumulative weight is computed WITHOUT a
    * single-partition window (the same grid decomposition as
    * `TextAnalysis.globalRank`): grid-bucket doc_id over broadcast
    * (min,max), within-bucket cumulative sums ordered by id, and a
    * prefix-sum over the ≤`buckets`-row bucket histogram — bounded by
    * construction. Thresholds are then counted per row in pure column
    * arithmetic (f(cum) − f(cum_before) where f(x) = thresholds ≤ x,
    * capped at k), so nothing but the (id, weight) pairs ever
    * shuffles.
    *
    * Non-positive-weight rows are dropped up front (a zero-width doc
    * can never be landed on; a negative weight would corrupt the
    * line), and k should not exceed the total weight (the stride
    * floors at 1 and the walk simply stops early once k thresholds
    * are spent).
    *
    * Output: the selected docs only — (doc_id, wt, cum_before,
    * n_copies ≥ 1), Σ n_copies = min(k, total). */
  def systematicPps(df: DataFrame, id: Column, weight: Column, k: Int,
      buckets: Int = 1024): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(buckets >= 2, "need at least 2 grid buckets")
    val base = df.select(id.as("doc_id"), weight.cast("long").as("wt"))
      .filter(col("wt") > 0)
    val bounds = base.agg(min(col("doc_id")).as("id_min"),
      max(col("doc_id")).as("id_max"), sum(col("wt")).as("total"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__b")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val bucketed = base.join(broadcast(bounds))
      .withColumn("__b",
        expr(s"(doc_id - id_min) * $buckets DIV (id_max - id_min + 1)"))
      .withColumn("__in_before", coalesce(sum(col("wt")).over(wIn), lit(0L)))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0)).orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val bucketBefore = bucketed.groupBy(col("__b"))
      .agg(sum(col("wt")).as("__bw"))
      .withColumn("__before_b", coalesce(sum(col("__bw")).over(wB), lit(0L)))
      .select(col("__b"), col("__before_b"))
    val withCum = bucketed.join(broadcast(bucketBefore), Seq("__b"))
      .withColumn("cum_before", col("__before_b") + col("__in_before"))
      .withColumn("cum", col("cum_before") + col("wt"))
      .withColumn("step", expr(s"greatest(total DIV $k, 1)"))
      .withColumn("off", expr("(step + 1) DIV 2"))
    // f(x) = number of thresholds off + j*step (j >= 0) that are <= x,
    // capped at k; all operands non-negative, so DIV == floor == //
    def f(x: String) = s"least(CAST($k AS BIGINT), " +
      s"CASE WHEN $x < off THEN 0L ELSE ($x - off) DIV step + 1L END)"
    withCum
      .withColumn("n_copies", expr(s"${f("cum")} - ${f("cum_before")}"))
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), col("wt"), col("cum_before"), col("n_copies"))
  }

  /** Deterministic per-stratum uniform k-sample ("hash reservoir") —
    * the exact-k sibling of [[stratifiedSample]]'s rate-based filter
    * and [[systematicPps]]'s weight-proportional draw: each stratum
    * keeps the k rows with the SMALLEST md5 of their id, which is a
    * uniform draw under the hash's permutation and a pure function of
    * the data (no RNG state — the reproducibility contract every
    * operator in this file carries). The classic form is `row_number()
    * OVER (PARTITION BY stratum ORDER BY md5(id))` — which shuffles
    * EVERY row to its stratum's reducer and sorts the full stratum in
    * one task (a corpus-sized WindowExec on a hot stratum); here the
    * bounded [[graft.functions.KMinValuesAggregator]] ships ≤ k
    * entries per stratum per map task, the q154 shape fix applied to
    * sampling. Each buffer entry encodes (hash, id) as a fixed-width
    * sortable string — hash first, so order IS the sample order, and
    * the zero-padded hex id both breaks ties deterministically and
    * carries the id through the aggregation.
    *
    * Output: (stratum, rank, id) with rank 1..k in hash order —
    * engine-portable (the DuckDB mirror is a plain window over the
    * same key string).
    *
    * Id contract: a NON-NULL, NON-NEGATIVE integer (or a value that
    * casts to one). Both halves are load-bearing, so violations RAISE
    * instead of corrupting silently: a null-after-cast id (string
    * keys, nulls) would previously vanish through the null filter —
    * the caller's corpus losing every row with no error — and a
    * negative id still packs to 16 hex chars but conv(..,16,10) of it
    * is an unsigned value past Long.MaxValue, NULL under Spark's
    * non-ANSI cast where the DuckDB mirror (which carries the id
    * natively) errors — an engine divergence. String-keyed corpora
    * should map their ids to longs first (e.g. a dictionary join or
    * xxhash64), keeping the draw a pure function of the data.
    *
    * [[reservoirSketch]] and [[reservoirRanks]] also build the
    * windowed [[graft.streaming.Streaming.hashReservoirStream]]. */
  def hashReservoir(df: DataFrame, stratum: Column, id: Column,
      k: Int): DataFrame =
    reservoirRanks(df.select(stratum.as("stratum"), reservoirKey(id).as("hk"))
      .groupBy(col("stratum")).agg(reservoirSketch(k)), "stratum")

  /** The bounded k-min aggregate over the (hash, id) buffer keys `hk`:
    * a `mins` struct whose `items` are the k smallest in order. */
  private[graft] def reservoirSketch(k: Int): Column = {
    require(k >= 1 && k <= 4096, "k must be in [1, 4096]")
    udaf(new graft.functions.KMinValuesAggregator(k))
      .apply(col("hk")).as("mins")
  }

  /** The draw out of [[reservoirSketch]] rows: one row per kept entry,
    * (`keys`, rank 1..k in hash order, id). */
  private[graft] def reservoirRanks(sketches: DataFrame,
      keys: String*): DataFrame =
    sketches.select(keys.map(col) :+
        posexplode(col("mins.items")).as(Seq("pos", "item")): _*)
      .select(keys.map(col) ++ Seq((col("pos") + 1).cast("long").as("rank"),
        reservoirId(col("item")).as("id")): _*)

  /** Contract-checked (hash, id) reservoir buffer key — shared by the
    * batch [[hashReservoir]] and the streaming
    * [[graft.streaming.Streaming.hashReservoirStream]] so finalized
    * windows are bit-identical across the two. Encoding: 14-hex md5
    * prefix, '-', zero-padded 16-hex id — fixed width, so
    * lexicographic order == (hash, id) order in every engine.
    * try_cast, not cast: under ANSI a malformed id would throw the
    * generic CAST_INVALID_INPUT before the guard could name the
    * contract; under non-ANSI it would silently null out — try_cast
    * funnels BOTH configurations into the same explicit error. */
  private[graft] def reservoirKey(id: Column): Column = {
    val idl = id.try_cast("long")
    val checked = when(idl.isNull || idl < 0,
      raise_error(concat(
        lit("hashReservoir: id must be a non-negative integer, got "),
        coalesce(id.cast("string"), lit("NULL")))).cast("long"))
      .otherwise(idl)
    concat(substring(md5(checked.cast("string")), 1, 14),
      lit("-"), lpad(hex(checked), 16, "0"))
  }

  /** [[reservoirKey]] with the LENIENT contract for standing
    * streams: an invalid id (null / negative / non-castable) yields
    * NULL instead of raising, so the caller can drop-and-count it
    * (see [[graft.streaming.Streaming.hashReservoirStream]]'s
    * poison-pill note for why a continuously-ingested monitor wants
    * loud-but-recoverable where a batch job wants the hard raise).
    * Valid ids encode byte-identically to [[reservoirKey]]. */
  private[graft] def reservoirKeyLenient(id: Column): Column = {
    val idl = id.try_cast("long")
    when(idl.isNull || idl < 0, lit(null).cast("string"))
      .otherwise(concat(substring(md5(idl.cast("string")), 1, 14),
        lit("-"), lpad(hex(idl), 16, "0")))
  }

  /** Decode the id back out of a [[reservoirKey]] buffer entry. */
  private[graft] def reservoirId(item: Column): Column =
    conv(substring(item, 16, 16), 16, 10).cast("long")

  def mixtureInterleave(df: DataFrame, id: Column, stratum: Column,
      weightsPpm: Map[String, Long], defaultPpm: Long, nShards: Int,
      salt: String = "interleave"): DataFrame = {
    require(nShards >= 1, "nShards must be >= 1")
    require((weightsPpm.values ++ Seq(defaultPpm)).forall(_ >= 0),
      "weights must be non-negative ppm")
    val ppm = weightsPpm.foldLeft(lit(defaultPpm)) { case (acc, (k, w)) =>
      when(col("stratum") === k, lit(w)).otherwise(acc)
    }
    val base = df.select(id.as("doc_id"), stratum.as("stratum"))
      .withColumn("okey", md5(concat(col("doc_id").cast("string"),
        lit(s":$salt:"), col("stratum"))))
      .withColumn("shard",
        pmod(conv(substring(col("okey"), 1, 12), 16, 10).cast("long"),
          lit(nShards.toLong)))
      .withColumn("ppm", ppm.cast("long"))
      .filter(col("ppm") > 0)
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"), col("stratum"))
      .orderBy(col("okey"), col("doc_id"))
    val wPos = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy(col("vtime"), col("stratum"), col("doc_id"))
    base
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .withColumn("vtime", expr("rk * 1000000 DIV ppm"))
      .withColumn("pos", row_number().over(wPos).cast("long"))
      .select(col("shard"), col("pos"), col("vtime"), col("stratum"),
        col("doc_id"))
  }

  /** Budgeted selection by quality score — "keep the best documents
    * until the token budget is spent", the final assembly step after
    * scoring (DSIR/LLR/heuristic quality all emit integer scores).
    * The greedy contract: walk docs in (q_score desc, doc_id asc)
    * order, select while the running token total stays within
    * `budget`.
    *
    * Scale shape: HISTOGRAM INVERSION, not a global sort. One hash
    * aggregate collapses the corpus to (q_score, class token mass) —
    * bounded by |distinct scores|, never corpus size — and a suffix
    * cumsum over that tiny frame finds the ONE boundary class the
    * budget line crosses (collected as a single driver-side row, the
    * bounded-summary discipline). The corpus then passes through ONE
    * scan: wholesale classes are decided map-side by comparing the
    * score against the boundary literal (a pushdown-able predicate —
    * when the score is a plain column the boundary-class extraction
    * reaches the parquet scan as a filter), and only the boundary
    * class pays a doc_id-ordered within-class cumsum, joined back on
    * doc_id (a tiny side, AQE-broadcastable). The funnel discipline:
    * never express a report as N filtered copies of one scan — the
    * previous form unioned three. The classic top-k-by-sort
    * formulation range-sorts the whole corpus for the same answer. A
    * degenerate corpus where most docs share one score makes the
    * boundary class large — pre-quantize the score if that ever
    * matters.
    *
    * Output: one row per doc with a non-null score — (doc_id,
    * q_score, n_tokens, selected). Deterministic: the order key is
    * (q_score, doc_id), both exact integers.
    *
    * NOTE: the boundary class is resolved EAGERLY at call time (the
    * collect below runs a job over `df` as it stands), and the
    * returned frame embeds it as a literal. Re-executing the result
    * after the input's backing data has changed would mix a stale
    * boundary with fresh rows — call budgetSelect again instead. */
  def budgetSelect(df: DataFrame, id: Column, score: Column,
      tokens: Column, budget: Long): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    val base = df.select(id.as("doc_id"),
      score.cast("long").as("q_score"),
      tokens.cast("long").as("n_tokens"))
      .filter(col("q_score").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("q_score").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    // |distinct scores| rows: mass strictly above each class
    val classes = base.groupBy(col("q_score"))
      .agg(sum(col("n_tokens")).as("class_tok"))
      .withColumn("mass_above", coalesce(sum(col("class_tok")).over(w),
        lit(0L)))
    // the single class whose [mass_above, mass_above + class_tok)
    // interval contains the budget line — at most ONE row crosses the
    // driver (absent exactly when the whole corpus fits the budget).
    // Zero-token classes sitting exactly at the line are not boundary
    // (their interval is empty): they resolve wholesale, and only
    // ABOVE the line (see the interval argument in the spec).
    val boundary = classes
      .filter(col("mass_above") <= budget &&
        col("mass_above") + col("class_tok") > budget)
      .select(col("q_score"), col("mass_above"))
      .collect().headOption.map(r => (r.getLong(0), r.getLong(1)))
    boundary match {
      case None => // budget >= total mass: every class fits wholesale
        base.withColumn("selected", lit(true))
      case Some((bScore, bAbove)) =>
        val wb = org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_score")).orderBy(col("doc_id"))
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        // prefix contract: `before` sums EVERY prior doc in the walk
        // order, selected or not — a doc that does not fit blocks all
        // lower-ranked docs
        val boundarySel = base.filter(col("q_score") === lit(bScore))
          .withColumn("before", lit(bAbove) +
            coalesce(sum(col("n_tokens")).over(wb), lit(0L)))
          .select(col("doc_id"),
            (col("before") + col("n_tokens") <= budget).as("sel_b"))
        base.join(boundarySel, Seq("doc_id"), "left")
          .select(col("doc_id"), col("q_score"), col("n_tokens"),
            when(col("q_score") > bScore, lit(true))
              .when(col("q_score") < bScore, lit(false))
              .otherwise(col("sel_b")).as("selected"))
    }
  }
}
