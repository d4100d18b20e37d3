package graft.operators

import java.security.MessageDigest
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane LSH-bucketed variant as the scale path.
  *
  * Determinism / oracle portability: embeddings are quantized to
  * integers (floor(x*10000 + 0.5) — exact in IEEE double, identical in
  * any engine), dot products and norms are exact integer sums (order
  * independent), and the only floating-point steps are one int→double
  * conversion, one sqrt and one division — all correctly-rounded IEEE
  * ops, so cosine scores are bit-identical across engines. Hyperplane
  * weights derive from md5 digits, reproducible anywhere.
  *
  * Scale design (100 TB): the query set is broadcast (it is the small
  * side by construction); the corpus is scanned exactly once, map-side;
  * the only shuffle is the per-query top-k rank over |corpus × queries|
  * scored rows — or, in the LSH variant, over candidates within the
  * query's bucket only (corpus/2^planes per bucket on average). For a
  * real 1000-executor deployment the rank shuffle can be replaced by a
  * per-partition top-k + merge, but the row_number plan already prunes
  * to k per query before any driver interaction.
  */
object Similarity {

  /** Quantization scale: unit-norm embeddings → |q| <= ~10^4,
    * norms ~10^8, norm products ~10^16 — inside BIGINT. */
  val Scale = 10000

  /** float array → exact integer array: floor(x*Scale + 0.5) — the
    * native codegen expression (graft.functions.QuantizeExpr); runs
    * once over every corpus vector, so the interpreted `transform`
    * lambda would be a full-scan cost at real corpus size. */
  def quantize(v: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.QuantizeExpr(
      ColumnBridge.expression(v), Scale))
  }

  /** The HOF form of quantize, kept for the equivalence spec. */
  private[graft] def quantizeHof(v: Column): Column =
    transform(v, e => floor(e * Scale + lit(0.5)).cast("long"))

  /** Exact integer dot product of two BIGINT arrays — the native
    * codegen expression (graft.functions.LongDotExpr), NOT the
    * `aggregate`/`zip_with` HOF form: array lambdas run interpreted
    * per element, and this is the inner loop of every ANN plan. */
  def dotQ(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.LongDotExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** cosine = dot / sqrt(na*nb), all operands exact integers. */
  private def cosine(dot: Column, na: Column, nb: Column): Column =
    dot / sqrt((na * nb).cast("double"))

  private def quantized(emb: DataFrame, id: Column, vec: Column): DataFrame =
    // fanOut: quantize + norm run at full parallelism even when the
    // embedding source is one unsplittable file (no-op at scale)
    graft.sources.Tables.fanOut(emb.select(id.as("vec_id"), vec.as("v0")))
      .select(col("vec_id"), quantize(col("v0")).as("qv"))
      .withColumn("nrm", dotQ(col("qv"), col("qv")))

  /** Brute-force exact cosine top-k: for each query vector (selected by
    * id), the k nearest corpus vectors (self excluded). */
  def bruteForceTopK(emb: DataFrame, id: Column, vec: Column,
      queryIds: Seq[Long], k: Int): DataFrame = {
    val base = quantized(emb, id, vec)
    val queries = base.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("nrm").as("q_nrm"))
    scoreAndRank(base.crossJoin(broadcast(queries)), k)
  }

  /** Number of random hyperplanes for the LSH variant (2^planes
    * buckets). */
  val DefaultPlanes = 4

  /** Deterministic hyperplane weights: weight(p,d) = (first hex digit
    * of md5("p:d")) * 2 - 15 — an odd integer in [-15, 15], identical
    * in any engine that has md5. */
  def planeWeights(planes: Int, dims: Int): Seq[Seq[Int]] =
    saltedPlaneWeights("", planes, dims)

  /** Independent plane set per salt: md5("<salt>p:d") digits — set k
    * of a multi-probe scheme uses salt "k:" (salt "" is the primary
    * set, keeping [[planeWeights]] stable). */
  def saltedPlaneWeights(salt: String, planes: Int,
      dims: Int): Seq[Seq[Int]] = {
    val md = MessageDigest.getInstance("MD5")
    (0 until planes).map { p =>
      (0 until dims).map { d =>
        val hex = md.digest(s"$salt$p:$d".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        Integer.parseInt(hex.substring(0, 1), 16) * 2 - 15
      }
    }
  }

  private def bucketColWith(qv: Column, weights: Seq[Seq[Int]]): Column =
    weights.zipWithIndex.map { case (w, p) =>
      when(dotQ(typedLit(w.map(_.toLong)), qv) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Sign-of-projection bucket id (0 .. 2^planes-1) as a Column over
    * the quantized vector. Pure integer math; weights are literals, so
    * the whole thing stays in one codegen'd projection. */
  def bucketCol(qv: Column, planes: Int, dims: Int): Column =
    bucketColWith(qv, planeWeights(planes, dims))

  /** LSH-bucketed approximate top-k: candidates are corpus vectors in
    * the query's hyperplane-sign bucket; exact cosine rank within the
    * bucket. Trades recall for a 2^planes-fold candidate reduction. */
  def lshTopK(emb: DataFrame, id: Column, vec: Column, queryIds: Seq[Long],
      k: Int, planes: Int = DefaultPlanes, dims: Int = 64): DataFrame = {
    val base = quantized(emb, id, vec)
      .withColumn("bucket", bucketCol(col("qv"), planes, dims))
    val queries = base.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("nrm").as("q_nrm"), col("bucket"))
    scoreAndRank(base.join(broadcast(queries), Seq("bucket")), k)
  }

  /** Johnson–Lindenstrauss-style signed random projection: compress a
    * `dims`-dimensional embedding to `outDims` integer components
    * `proj_p = Σ_d w(p,d)·qv_d`, with the same md5-derived odd-integer
    * weight matrix as the hyperplane LSH family ([[planeWeights]] —
    * odd-integer entries in [−15, 15] rather than Gaussians;
    * Achlioptas 2003, "Database-friendly random projections", shows
    * sign/sparse matrices satisfy the same JL distortion bounds as
    * Gaussian ones). The LSH bucket bit p
    * is exactly `sign(proj_p)` — this operator keeps the magnitudes,
    * so downstream ANN can rank by projected cosine instead of only
    * bucketing, at outDims/dims of the storage and dot-product cost.
    *
    * Everything is exact integer arithmetic on the quantized vector
    * (weights are literals inside ONE codegen'd projection — the
    * kernel is outDims [[dotQ]] native dots per row); map-only, zero
    * shuffle, engine-portable.
    *
    * Returns (vec_id, proj: Array[Long]). */
  def randomProject(emb: DataFrame, id: Column, vec: Column,
      outDims: Int = 16, dims: Int = 64): DataFrame = {
    require(outDims >= 1 && outDims <= 64, "outDims in [1,64]")
    val w = planeWeights(outDims, dims)
    graft.sources.Tables.fanOut(emb.select(id.as("vec_id"), vec.as("v0")))
      .select(col("vec_id"), quantize(col("v0")).as("qv"))
      .select(col("vec_id"), array(w.map(wp =>
        dotQ(typedLit(wp.map(_.toLong)), col("qv"))): _*).as("proj"))
  }

  /** [[randomProject]] exploded to (vec_id, p, proj) rows — the
    * oracle-comparable long form (array columns don't sort portably
    * in the hash compare). */
  def randomProjectRows(emb: DataFrame, id: Column, vec: Column,
      outDims: Int = 16, dims: Int = 64): DataFrame =
    randomProject(emb, id, vec, outDims, dims)
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("p", "proj")))
      .select(col("vec_id"), col("p").cast("long").as("p"), col("proj"))

  /** Shared PQ decomposition: the corpus exploded to (vec_id, m, sv)
    * sub-vectors plus the per-sub-space codebook (the sub-vectors of
    * the first `codes` corpus ids — the IVF seed-centroid
    * discipline). One narrow explode (M rows per vector, each
    * dims/M longs wide). */
  /** The (vec_id, m, sv, s_nrm2) sub-vector explode shared by every
    * PQ form. */
  /** A collected PQ codebook entry (bounded: m·codes rows). `cv`/`nrm2`
    * stay null when the source sub-vector was (degenerate corpora). */
  private case class PqCent(m: Int, code: Long, cv: Seq[Long],
      nrm2: java.lang.Long)

  /** Driver-side twin of [[graft.functions.LongDotExpr]]: exact long
    * dot over the shorter prefix, null in → null out. Used only on
    * bounded collected rows (codebooks, query vectors). */
  private def dotL(a: Seq[Long], b: Seq[Long]): java.lang.Long =
    if (a == null || b == null) null
    else {
      val n = math.min(a.length, b.length)
      var i = 0
      var acc = 0L
      while (i < n) { acc += a(i) * b(i); i += 1 }
      java.lang.Long.valueOf(acc)
    }

  /** Driver-side twin of `slice(qv, m*sub+1, sub)` (1-based, truncated
    * past the end, null through). */
  private def sliceL(qv: Seq[Long], mi: Int, sub: Int): Seq[Long] =
    if (qv == null) null else qv.slice(mi * sub, mi * sub + sub)

  /** The seed codebook (vectors with vec_id < codes, split into m
    * sub-vectors) COLLECTED — ≤ m·codes rows, the bounded-summary
    * class. Sub-vector norms use the exact dotQ integer semantics. */
  private def seedPqCents(base: DataFrame, m: Int, codes: Int,
      dims: Int): Seq[PqCent] = {
    val sub = dims / m
    base.filter(col("vec_id") < codes)
      .select(col("vec_id"), col("qv")).collect().toSeq
      .flatMap { r =>
        val id = r.getLong(0)
        val qv = if (r.isNullAt(1)) null else r.getSeq[Long](1)
        (0 until m).map { mi =>
          val cv = sliceL(qv, mi, sub)
          PqCent(mi, id, cv, dotL(cv, cv))
        }
      }.sortBy(c => (c.m, c.code))
  }

  /** Collect a supplied (m, code, cv, c_nrm2) codebook frame. */
  private def collectPqCents(codebook: DataFrame): Seq[PqCent] =
    codebook.select(col("m").cast("long"), col("code").cast("long"),
        col("cv"), col("c_nrm2"))
      .collect().toSeq.map { r =>
        PqCent(r.getLong(0).toInt, r.getLong(1),
          if (r.isNullAt(2)) null else r.getSeq[Long](2),
          if (r.isNullAt(3)) null else java.lang.Long.valueOf(r.getLong(3)))
      }.sortBy(c => (c.m, c.code))

  /** Per-sub-space code assignment as codegen projections over
    * codebook LITERALS — the IVF assignCells discipline applied to PQ:
    * the former explode(×m) → broadcast-join(×codes) → groupBy(vec_id,
    * m) min_by shape re-aggregated the corpus and shuffled corpus×m
    * rows per pass; the argmin depends only on the row, so it runs in
    * the scan. Each element replicates the old dist2 expression
    * (s_nrm2 + c_nrm2 − 2·dotQ) ranked by the same struct(dist2, code)
    * total order min_by used. A sub-space absent from the codebook
    * yields a null code (the old inner join dropped those rows —
    * callers filter the null). */
  private def pqCodeCols(mSubs: Int, dims: Int,
      cents: Seq[PqCent]): Seq[Column] = {
    val sub = dims / mSubs
    val byM = cents.groupBy(_.m)
    (0 until mSubs).map { mi =>
      byM.get(mi) match {
        case None => lit(null).cast("bigint")
        case Some(cs) =>
          val sv = slice(col("qv"), mi * sub + 1, sub)
          val svn = dotQ(sv, sv)
          val cand = cs.sortBy(_.code).map { c =>
            val cvL = if (c.cv == null) lit(null).cast("array<bigint>")
                      else typedlit(c.cv)
            val nrmL = if (c.nrm2 == null) lit(null).cast("bigint")
                       else lit(c.nrm2.longValue())
            struct((svn + nrmL - lit(2L) * dotQ(sv, cvL)).as("d"),
              lit(c.code).as("c"))
          }
          array_min(array(cand: _*)).getField("c")
      }
    }
  }

  /** Product-quantization codes (Jégou et al. 2011, "Product
    * quantization for nearest neighbor search"): the 64-d vector
    * splits into `m` sub-vectors; per sub-space the code is the
    * codebook entry minimizing EXACT integer L2²
    * (‖s‖² + ‖c‖² − 2·s·c, every term a [[dotQ]] native kernel;
    * ties → lowest code). The corpus compresses dims floats →
    * m small ints per vector — the storage/bandwidth member of the
    * ANN family: at 10⁹ vectors the code table is ~8 GB where the
    * raw embeddings are ~256 GB, and [[pqAdcTopK]] scans ONLY codes.
    *
    * Scale shape: one explode (M narrow rows per vector), one
    * broadcast codebook join (M·codes rows BY CONSTRUCTION), one
    * (vec_id, m)-keyed `min_by` hash aggregate — partial aggregation
    * ships one row per sub-vector per map task; no window.
    *
    * Output: (vec_id, m, code), all integer. */
  def pqCodes(emb: DataFrame, id: Column, vec: Column, m: Int = 8,
      codes: Int = 16, dims: Int = 64): DataFrame = {
    require(m >= 1 && dims % m == 0, "m must divide dims")
    require(codes >= 1, "codes must be positive")
    val base = quantized(emb, id, vec)
    val cents = seedPqCents(base, m, codes, dims)
    // one scan projection computes every sub-space code; posexplode
    // restores the (vec_id, m, code) row shape the aggregate produced
    base.select(col("vec_id"),
        posexplode(array(pqCodeCols(m, dims, cents): _*)))
      .select(col("vec_id"), col("pos").cast("long").as("m"),
        col("col").as("code"))
      .filter(col("code").isNotNull)
  }

  /** PQ asymmetric-distance (ADC) top-k: the query keeps its exact
    * sub-vectors and precomputes a distance table to every codebook
    * entry (m·codes integers per query — broadcast BY CONSTRUCTION);
    * the corpus contributes ONLY its [[pqCodes]] — the scan that
    * ranks 10⁹ vectors reads 8 bytes each and never touches an
    * embedding. adc(q, v) = Σ_m dtab(q, m, code_v[m]), an exact
    * integer; ranking rides [[graft.functions.TopKAggregator]]
    * on −adc (exact in a double below 2^53 — sub-space L2² tops out
    * near 2^35 here), k rows per query per map task, no window.
    *
    * Output: (query_id, rank, vec_id, adc) — lower adc = nearer. */
  def pqAdcTopK(emb: DataFrame, id: Column, vec: Column,
      queryIds: Seq[Long], k: Int, m: Int = 8, codes: Int = 16,
      dims: Int = 64,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(m >= 1 && dims % m == 0, "m must divide dims")
    require(codes >= 1, "codes must be positive")
    val base0 = quantized(emb, id, vec)
    val base =
      if (storage == org.apache.spark.storage.StorageLevel.NONE) base0
      else base0.persist(storage)
    adcSearch(base, seedPqCents(base, m, codes, dims), m, dims,
      queryIds, k)
  }

  /** Shared ADC tail against COLLECTED codebook entries — the true
    * "the scan that ranks 10⁹ vectors reads only codes" contract: the
    * codes projection ([[pqCodeCols]]) and the per-query ADC both run
    * in the corpus scan; the per-query distance tables (queries × m ×
    * codes integers — bounded) are computed driver-side with the exact
    * dotQ/slice semantics and baked in as literals. The former shape
    * paid TWO corpus-scale exchanges (the (vec_id, m) code aggregate
    * and the (query_id, vec_id) ADC sum); the only exchange left is
    * the TopK partial aggregate (≤ k rows per query per map task).
    * ADC keeps SQL sum-over-sub-space semantics (nulls skipped,
    * all-null → null) and integer exactness (order-free long adds). */
  private def adcSearch(base: DataFrame, cents: Seq[PqCent], mSubs: Int,
      dims: Int, queryIds: Seq[Long], k: Int): DataFrame = {
    val sub = dims / mSubs
    def empty = base.select(col("vec_id").as("query_id"),
      lit(0L).as("rank"), col("vec_id"), lit(0L).as("adc"))
      .filter(lit(false))
    if (cents.isEmpty) return empty
    val qrows = base.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), col("qv")).collect()
    if (qrows.isEmpty) return empty
    val byM = cents.groupBy(_.m)
    // stage 1: the codes array, once per vector (its own projection —
    // CollapseProject keeps non-cheap multi-consumer aliases)
    val coded = base.select(col("vec_id"),
      array(pqCodeCols(mSubs, dims, cents): _*).as("codes"))
    // stage 2: per query, adc = SQL-sum over sub-spaces of the literal
    // distance-table entry selected by this vector's code
    val perQuery = qrows.sortBy(_.getLong(0)).map { r =>
      val qid = r.getLong(0)
      val qv = if (r.isNullAt(1)) null else r.getSeq[Long](1)
      val terms: Seq[Column] = (0 until mSubs).flatMap { mi =>
        byM.get(mi).map { cs =>
          val sv = sliceL(qv, mi, sub)
          val svn = dotL(sv, sv)
          val codeCol = element_at(col("codes"), mi + 1)
          def dOf(c: PqCent): java.lang.Long = {
            val dd = dotL(sv, c.cv)
            if (svn == null || c.nrm2 == null || dd == null) null
            else java.lang.Long.valueOf(svn.longValue()
              + c.nrm2.longValue() - 2L * dd.longValue())
          }
          val codesHere = cs.map(_.code)
          // dense code space (the pqCodes contract: codes are seed
          // vec_ids 0..codes-1): the distance table is ONE folded
          // array literal probed by `get` (0-based, out-of-range and
          // null → null — exactly the when-chain's no-match null),
          // so the per-query plan stays O(m) nodes instead of the
          // O(m·codes) nested CASE chain that blew generated-code
          // size past the JIT threshold as queries × codes grew
          if (codesHere.forall(c => c >= 0L && c <= 4095L)) {
            val tab = Array.fill[Column](codesHere.max.toInt + 1)(
              lit(null).cast("bigint"))
            cs.foreach { c =>
              tab(c.code.toInt) = Option(dOf(c))
                .map(d => lit(d.longValue())).getOrElse(
                  lit(null).cast("bigint"))
            }
            get(array(tab.toIndexedSeq: _*), codeCol.cast("int"))
          } else {
            // sparse/negative code space (only a hand-built loaded
            // codebook can produce it): the original bounded chain
            cs.sortBy(_.code).foldLeft(lit(null).cast("bigint")) {
              case (acc, c) => when(codeCol === lit(c.code),
                Option(dOf(c)).map(d => lit(d.longValue()))
                  .getOrElse(lit(null).cast("bigint"))).otherwise(acc)
            }
          }
        }
      }
      val anyNonNull = terms.map(_.isNotNull).reduce(_ || _)
      val total = terms.map(t => coalesce(t, lit(0L))).reduce(_ + _)
      struct(lit(qid).as("query_id"), when(anyNonNull, total).as("adc"))
    }
    val topk = udaf(new graft.functions.TopKAggregator(k))
    coded.select(col("vec_id"),
        explode(array(perQuery.toSeq: _*)).as("qa"))
      .select(col("vec_id"), col("qa.query_id").as("query_id"),
        col("qa.adc").as("adc"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"))
      .agg(topk(col("vec_id"), -col("adc").cast("double")).as("top"))
      .select(col("query_id"), posexplode(col("top.items")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.vecId").as("vec_id"),
        (-col("col.cosine")).cast("long").as("adc"))
  }

  /** The PQ CODEBOOK as a standalone artifact — (m, code, cv, c_nrm2)
    * per sub-space, materialized eagerly (m·codes rows — the
    * budgetSelect class): the half of the PQ index a deployment
    * ships so new corpora encode and search against FROZEN codebooks
    * (the ivfCentroids precedent for the compression member of the
    * ANN family). */
  def pqCodebook(emb: DataFrame, id: Column, vec: Column, m: Int = 8,
      codes: Int = 16, dims: Int = 64): DataFrame = {
    require(m >= 1 && dims % m == 0, "m must divide dims")
    require(codes >= 1, "codes must be positive")
    val spark = emb.sparkSession
    val cents = seedPqCents(quantized(emb, id, vec), m, codes, dims)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("m",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("code",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)),
      org.apache.spark.sql.types.StructField("c_nrm2",
        org.apache.spark.sql.types.LongType)))
    val rows = cents
      .map(c => org.apache.spark.sql.Row(c.m.toLong, c.code, c.cv, c.nrm2))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Serve-side ADC search against a SUPPLIED codebook (live
    * [[pqCodebook]] or a [[loadPqCodebook]] artifact). The sub-space
    * count is read off the codebook itself (max m + 1 — validated
    * contiguous at load), so the caller cannot desynchronize the
    * explode from the codebook that encodes it. */
  def pqAdcTopKWith(emb: DataFrame, id: Column, vec: Column,
      queryIds: Seq[Long], k: Int, codebook: DataFrame, dims: Int = 64,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    // loadPqCodebook already refuses an empty artifact; a LIVE empty
    // frame must get the same loud refusal, not a null-unbox NPE
    val cents = collectPqCents(codebook)
    require(cents.nonEmpty,
      "codebook is empty: nothing to derive the sub-space count from")
    val mCount = cents.map(_.m).max + 1
    require(mCount >= 1 && dims % mCount == 0, "m must divide dims")
    val base0 = quantized(emb, id, vec)
    val base =
      if (storage == org.apache.spark.storage.StorageLevel.NONE) base0
      else base0.persist(storage)
    adcSearch(base, cents, mCount, dims, queryIds, k)
  }

  /** Persist a [[pqCodebook]] (m·codes rows — one file). */
  def savePqCodebook(codebook: DataFrame, path: String): Unit =
    codebook.select(col("m").cast("long").as("m"),
        col("code").cast("long").as("code"),
        col("cv").cast("array<bigint>").as("cv"),
        col("c_nrm2").cast("long").as("c_nrm2"))
      .coalesce(1)
      .write.mode("overwrite").parquet(path)

  /** Load a shipped PQ codebook, validated at the boundary: canonical
    * columns, distinct (m, code) pairs, contiguous sub-space ids
    * 0..M-1 (the serve-side explode derives M from the codebook), one
    * uniform sub-vector width, and stored norms equal to the vectors'
    * self-dot-products. Bounded eager checks (m·codes rows). */
  def loadPqCodebook(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val raw = spark.read.parquet(path)
    val missing = Seq("m", "code", "cv", "c_nrm2")
      .filterNot(raw.columns.toSet)
    require(missing.isEmpty,
      s"$path is not a pqCodebook artifact: missing column(s) " +
        missing.mkString(", "))
    val table = raw.select(col("m").cast("long").as("m"),
      col("code").cast("long").as("code"),
      col("cv").cast("array<bigint>").as("cv"),
      col("c_nrm2").cast("long").as("c_nrm2"))
    val stats = table.agg(count(lit(1)).as("n"),
        countDistinct(col("m"), col("code")).as("nd"),
        min(col("m")).as("mlo"), max(col("m")).as("mhi"),
        countDistinct(col("m")).as("mn"),
        countDistinct(size(col("cv"))).as("widths"),
        count(when(dotQ(col("cv"), col("cv")) =!= col("c_nrm2"), 1))
          .as("bad_nrm"))
      .collect()(0)
    require(stats.getLong(0) > 0L, s"$path is empty")
    require(stats.getLong(0) == stats.getLong(1),
      s"$path carries duplicate (m, code) rows")
    require(stats.getLong(2) == 0L &&
      stats.getLong(3) == stats.getLong(4) - 1,
      s"$path sub-space ids must be contiguous 0..M-1")
    require(stats.getLong(5) == 1L,
      s"$path carries mixed sub-vector widths")
    require(stats.getLong(6) == 0L,
      s"$path carries ${stats.getLong(6)} codebook entr(ies) whose " +
        "stored norm is not the vector's self-dot-product")
    table
  }

  /** Per-group centroid + dispersion — the embedding-space drift
    * monitor: for each group (source, label, time slice) the
    * element-wise FLOORED-mean centroid of the quantized vectors and
    * the mean cosine of members to their own centroid (dispersion:
    * 1.0 = the group is one point; lower = spreading). Run per
    * snapshot and compare centroids across time to catch a source
    * changing character — the monitoring twin of the k-means
    * refinement step, sharing its floored-mean discipline
    * (exact long sum, ONE IEEE divide + floor — never a running
    * double mean, whose partial-sum order varies).
    *
    * Scale shape: one posexplode to (group, dim, value) and a
    * partial-agg hash aggregate — at most groups × dims rows per map
    * task cross the shuffle; the member-to-centroid rescan is a
    * broadcast of the (tiny) centroid table onto a second corpus
    * scan. Mean cosine is quantized to an exact integer permyriad
    * (floor ×10⁴) so the group average is an integer sum — order-free
    * across engines.
    *
    * Output: (grp, n_vecs, mean_cos_pmy — floor(10⁴·Σfloor(10⁴·cos)/n)
    * staying integer end to end). */
  def groupDispersion(emb: DataFrame, id: Column, vec: Column,
      group: Column): DataFrame = {
    val base = graft.sources.Tables.fanOut(
        emb.select(id.as("vec_id"), group.as("grp"), vec.as("v0")))
      .select(col("vec_id"), col("grp"), quantize(col("v0")).as("qv"))
      .withColumn("nrm", dotQ(col("qv"), col("qv")))
    val byDim = base
      .select(col("grp"), posexplode(col("qv")).as(Seq("d", "x")))
      .groupBy(col("grp"), col("d"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("cnt"))
      .withColumn("c", floor(col("sx") / col("cnt")).cast("long"))
    val cents = byDim.groupBy(col("grp"))
      .agg(array_sort(collect_list(struct(col("d"), col("c")))).as("dc"))
      .select(col("grp"),
        transform(col("dc"), s => s.getField("c")).as("cent"))
      .withColumn("c_nrm", dotQ(col("cent"), col("cent")))
    // (cos+1)·10⁴ keeps every term NON-NEGATIVE: Spark's `DIV`
    // truncates toward zero where DuckDB's `//` floors — identical
    // only on non-negative operands, so the statistic is shifted
    // before the integer mean and shifted back after it
    base.join(broadcast(cents), Seq("grp"))
      .withColumn("cos1_pmy",
        floor((cosine(dotQ(col("qv"), col("cent")), col("nrm"), col("c_nrm"))
          + lit(1.0)) * 10000).cast("long"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_vecs"),
        (expr("sum(cos1_pmy) DIV count(1)") - 10000L).as("mean_cos_pmy"))
  }

  /** Recall@k of an approximate top-k against the exact one — the
    * evaluation harness every ANN deployment needs before trusting a
    * speedup: both inputs are rank frames (query_id, rank, vec_id) as
    * produced by [[bruteForceTopK]] / [[lshTopK]] / [[ivfTopK]] /
    * [[pqAdcTopK]]; per query, the hit count is a keyed semi-join on
    * (query_id, vec_id) and recall = hits / k_exact (one IEEE
    * division of two small integers — engine-identical). A query the
    * approximate method returned nothing for scores 0, not absent.
    *
    * Scale: both inputs are k·|queries| rows BY CONSTRUCTION — this
    * whole operator is small-data; it exists so the measurement is a
    * query, not a notebook. */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame = {
    val e = exact.select(col("query_id"), col("vec_id"))
    val k = e.groupBy(col("query_id")).agg(count(lit(1)).as("k"))
    val hits = e.join(approx.select(col("query_id"), col("vec_id")),
        Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    k.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("k"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall", col("n_hits") / col("k"))
  }

  /** Assign every vector of `base` to its nearest centroid (exact
    * integer cosine, broadcast of the tiny centroid set). The argmax
    * is a `min_by` HASH AGGREGATE, not a window rank: partial
    * aggregation combines map-side, so each map task ships ONE row
    * per vector to the shuffle instead of nCells scored candidates —
    * at 10⁹ vectors the window form would shuffle corpus × nCells
    * rows per assignment pass (and q66 runs three passes). Ordering
    * matches the former `row_number` window exactly: highest cosine
    * wins, ties break on lowest cent_id (the struct key is
    * (-c_cos, cent_id), lexicographic min; c_cos is never NaN — both
    * norms are positive self-dot-products). qv/nrm are constant per
    * vec_id, so `first` is deterministic here. */
  /** A collected centroid row: the bounded (≤ nCells) summary the
    * assignment expression is built from. `qv`/`nrm` may be null when
    * the source vector was (degenerate corpora — the literal keeps
    * the null so the cosine stays null exactly like the join form). */
  private case class Centroid(id: Long, qv: Seq[Long], nrm: java.lang.Long)

  /** Collect a (cent_id, c_qv, c_nrm) frame — ≤ nCells rows by
    * construction, the bounded-summary class — so cell assignment can
    * run as a per-row expression instead of a join + re-aggregation. */
  private def collectCentroids(cents: DataFrame): Seq[Centroid] =
    cents.select(col("cent_id").cast("long"), col("c_qv"), col("c_nrm"))
      .collect()
      .map { r =>
        Centroid(r.getLong(0),
          if (r.isNullAt(1)) null else r.getSeq[Long](1),
          if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2)))
      }
      .sortBy(_.id)

  /** Nearest-centroid assignment as ONE codegen projection over
    * centroid LITERALS — zero Exchange, zero join. The former shape
    * (crossJoin(broadcast(cents)) → ×nCells row blow-up →
    * groupBy(vec_id) min_by) re-aggregated the corpus and shuffled
    * every row (carrying its full qv array) once per assignment pass;
    * the argmin over ≤ nCells candidates depends only on the row
    * itself, so it belongs in the scan projection (the langIdKernel /
    * guide-§8 discipline: decide with small data, never move the
    * payload). Semantics are replicated exactly: per candidate the
    * same cosine expression, ranked by the same struct(-cos, cent_id)
    * total order — array_min and min_by share Spark's one struct
    * ordering (nulls first, NaN greatest, lexicographic tie on
    * cent_id). Empty centroids yield the empty frame, as the old
    * inner-join shape did. */
  private def assignCells(base: DataFrame, cents: Seq[Centroid]): DataFrame =
    if (cents.isEmpty)
      base.filter(lit(false)).withColumn("cell", lit(null).cast("long"))
    else {
      val cand = cents.map { c =>
        val cqv = if (c.qv == null) lit(null).cast("array<bigint>")
                  else typedlit(c.qv)
        val cnrm = if (c.nrm == null) lit(null).cast("bigint")
                   else lit(c.nrm.longValue())
        struct((-cosine(dotQ(col("qv"), cqv), col("nrm"), cnrm)).as("s"),
          lit(c.id).as("id"))
      }
      base.withColumn("cell", array_min(array(cand: _*)).getField("id"))
    }

  /** IVF-style ANN: the first `nCells` corpus vectors (lowest ids)
    * act as deterministic seed centroids; every vector is assigned to
    * its nearest centroid; a query searches only its own cell.
    *
    * Scale path: cell assignment is one broadcast join + rank (map
    * side dominated); search cost drops nCells× vs brute force. For
    * clustered real corpora use [[ivfTopKRefined]], which k-means-
    * refines the seed centroids with the same broadcast-join shape. */
  /** Shared search tail of every IVF form: assign the quantized
    * corpus to its nearest supplied centroid, then search each query
    * only within its own cell.
    *
    * Cache note: `assigned` feeds both sides of the cell join (corpus
    * and query), and recomputing it re-runs the centroid
    * crossJoin+rank. In a production IVF this frame IS the index — it
    * would be built once and written to a table, so a cache
    * (spillable; NONE = recompute at corpus scale) is the honest
    * single-job stand-in. */
  private def searchCells(base: DataFrame, cents: Seq[Centroid],
      queryIds: Seq[Long], k: Int,
      storage: org.apache.spark.storage.StorageLevel): DataFrame = {
    val assigned0 = assignCells(base, cents)
    val assigned =
      if (storage == org.apache.spark.storage.StorageLevel.NONE) assigned0
      else assigned0.persist(storage)
    val queries = assigned.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("nrm").as("q_nrm"), col("cell"))
    scoreAndRank(assigned.join(broadcast(queries), Seq("cell")), k)
  }

  def ivfTopK(emb: DataFrame, id: Column, vec: Column, queryIds: Seq[Long],
      k: Int, nCells: Int = 16,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val base = quantized(emb, id, vec)
    val cents = collectCentroids(base.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cent_id"), col("qv").as("c_qv"),
        col("nrm").as("c_nrm")))
    searchCells(base, cents, queryIds, k, storage)
  }

  /** IVF with a deterministic k-means refinement loop: `iters` rounds
    * of (assign to nearest centroid → recompute centroids as the
    * element-wise FLOORED mean of assigned vectors), then a final
    * assignment and cell-restricted search. Seed-centroid IVF
    * ([[ivfTopK]]) degrades on clustered corpora — the first 16 ids
    * are arbitrary points, so dense regions share cells; Lloyd
    * iterations move the centroids toward the true cluster structure
    * while staying fully deterministic and oracle-checkable:
    * iteration count is fixed, the mean is floor(exact-long-sum /
    * count) (one IEEE divide + floor, identical in any engine — NOT
    * a running double mean, whose partial-sum order would vary), and
    * ties in assignment break on cent_id.
    *
    * Scale shape per iteration: one broadcast crossJoin + rank for
    * assignment (map-side dominated), then a posexplode to (cell,
    * dim, value) and a hash aggregate — partial aggregation combines
    * map-side, so the shuffle moves at most nCells × dims rows per
    * map task regardless of corpus size. Empty cells simply drop out
    * (their centroid has no assigned rows), matching SQL GROUP BY. */
  def ivfTopKRefined(emb: DataFrame, id: Column, vec: Column,
      queryIds: Seq[Long], k: Int, nCells: Int = 16, iters: Int = 2,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val base0 = quantized(emb, id, vec)
    // base is scanned iters+1 times (each assignment pass) — persist
    // unless the caller asked for pure recompute
    val base =
      if (storage == org.apache.spark.storage.StorageLevel.NONE) base0
      else base0.persist(storage)
    var cents = collectCentroids(base.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cent_id"), col("qv").as("c_qv"),
        col("nrm").as("c_nrm")))
    for (_ <- 1 to iters) {
      val newQv = assignCells(base, cents)
        .select(col("cell"), posexplode(col("qv")))
        .groupBy(col("cell"), col("pos"))
        // exact long sum, ONE double divide, floor: deterministic
        .agg(floor(sum(col("col")).cast("double") / count(lit(1)))
          .cast("long").as("cv"))
        .groupBy(col("cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("cv")))),
          s => s.getField("cv")).as("c_qv"))
      // ≤ nCells rows: collecting each round replaces the nested
      // broadcast-exchange chain with a flat literal plan per pass
      cents = collectCentroids(newQv.select(col("cell").as("cent_id"),
        col("c_qv"), dotQ(col("c_qv"), col("c_qv")).as("c_nrm")))
    }
    searchCells(base, cents, queryIds, k, storage)
  }

  /** Train the refined IVF centroids as a STANDALONE artifact — the
    * centroid half of [[ivfTopKRefined]] exposed on its own, so a
    * production build trains once and ships the (cent_id, c_qv,
    * c_nrm) table instead of re-running Lloyd iterations per query
    * batch (the langIdProfiles train→ship→serve precedent). Same
    * loop, same determinism arguments; the result is materialized
    * eagerly (≤ nCells rows — the budgetSelect class) and the
    * training scan released before returning, so no cached frame
    * outlives the call. Serve with [[ivfTopKWith]]. */
  def ivfCentroids(emb: DataFrame, id: Column, vec: Column,
      nCells: Int = 16, iters: Int = 2,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val spark = emb.sparkSession
    val base0 = quantized(emb, id, vec)
    val base =
      if (storage == org.apache.spark.storage.StorageLevel.NONE) base0
      else base0.persist(storage)
    var cents = collectCentroids(base.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cent_id"), col("qv").as("c_qv"),
        col("nrm").as("c_nrm")))
    for (_ <- 1 to iters) {
      val newQv = assignCells(base, cents)
        .select(col("cell"), posexplode(col("qv")))
        .groupBy(col("cell"), col("pos"))
        .agg(floor(sum(col("col")).cast("double") / count(lit(1)))
          .cast("long").as("cv"))
        .groupBy(col("cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("cv")))),
          s => s.getField("cv")).as("c_qv"))
      cents = collectCentroids(newQv.select(col("cell").as("cent_id"),
        col("c_qv"), dotQ(col("c_qv"), col("c_qv")).as("c_nrm")))
    }
    if (storage != org.apache.spark.storage.StorageLevel.NONE)
      base.unpersist()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cent_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("c_qv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)),
      org.apache.spark.sql.types.StructField("c_nrm",
        org.apache.spark.sql.types.LongType)))
    val rows = cents.map(c => org.apache.spark.sql.Row(c.id, c.qv, c.nrm))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Serve-side IVF: cell-restricted search against SUPPLIED
    * centroids — a live [[ivfCentroids]] frame or one loaded back
    * through [[loadIvfCentroids]]; the round-trip is spec-pinned
    * identical to [[ivfTopKRefined]] at the same parameters. */
  def ivfTopKWith(emb: DataFrame, id: Column, vec: Column,
      queryIds: Seq[Long], k: Int, cents: DataFrame,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame =
    searchCells(quantized(emb, id, vec),
      collectCentroids(
        cents.select(col("cent_id"), col("c_qv"), col("c_nrm"))),
      queryIds, k, storage)

  /** Persist trained [[ivfCentroids]] as the shipped index artifact:
    * canonical (cent_id, c_qv, c_nrm), one parquet file (≤ nCells
    * rows by construction). */
  def saveIvfCentroids(cents: DataFrame, path: String): Unit =
    cents.select(col("cent_id").cast("long").as("cent_id"),
        col("c_qv").cast("array<bigint>").as("c_qv"),
        col("c_nrm").cast("long").as("c_nrm"))
      .coalesce(1)
      .write.mode("overwrite").parquet(path)

  /** Load a shipped centroid table for [[ivfTopKWith]], validated
    * LOUDLY at the artifact boundary (the loadLangModel contract):
    * canonical columns, distinct cell ids (a duplicate would make
    * the nearest-centroid argmin ambiguous), and each row's stored
    * norm equal to its vector's self-dot-product (a doctored norm
    * would silently skew every cosine the index computes). Bounded
    * eager checks — the table is ≤ nCells rows. */
  def loadIvfCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val raw = spark.read.parquet(path)
    val missing = Seq("cent_id", "c_qv", "c_nrm")
      .filterNot(raw.columns.toSet)
    require(missing.isEmpty,
      s"$path is not an ivfCentroids artifact: missing column(s) " +
        missing.mkString(", "))
    val table = raw.select(col("cent_id").cast("long").as("cent_id"),
      col("c_qv").cast("array<bigint>").as("c_qv"),
      col("c_nrm").cast("long").as("c_nrm"))
    val stats = table.agg(count(lit(1)).as("n"),
        countDistinct(col("cent_id")).as("nd"),
        count(when(dotQ(col("c_qv"), col("c_qv")) =!= col("c_nrm"), 1))
          .as("bad_nrm"))
      .collect()(0)
    require(stats.getLong(0) == stats.getLong(1),
      s"$path carries duplicate cent_id rows " +
        s"(${stats.getLong(0)} rows, ${stats.getLong(1)} distinct)")
    require(stats.getLong(2) == 0L,
      s"$path carries ${stats.getLong(2)} centroid(s) whose stored " +
        "norm is not the vector's self-dot-product")
    table
  }

  /** Embedding-cosine near-duplicate pairs — the similarity-space
    * member of the dedup family (exact / MinHash / SimHash / Jaccard /
    * cosine): all pairs within the same hyperplane-sign bucket whose
    * exact integer cosine clears `minCosine`.
    *
    * Scale shape: identical to the other near-dup operators — an
    * equi-join on the LSH bucket key (never all-pairs; expected
    * candidates = corpus²/2^planes per bucket), exact verification via
    * the codegen'd integer dot product. Recall at a given threshold is
    * tuned by `planes` (more planes = narrower buckets = fewer
    * candidates but lower recall); production corpora would OR several
    * independent plane sets exactly like MinHash bands. The quantized
    * frame is persisted because the self-join reads it from both
    * sides. */
  def cosineNearDupPairs(emb: DataFrame, id: Column, vec: Column,
      minCosine: Double, planes: Int = DefaultPlanes, dims: Int = 64,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame =
    // ONE code path for single- and multi-set near-dup: planeSets = 1
    // uses the identical salt-"" plane set this form always used, and
    // inherits the thinned kernel — the bucket self-join and pair
    // dedup move bare id pairs, with vectors re-joined from the
    // persisted base only for unique pairs (the multi-set scaladoc
    // has the exchange-width argument)
    cosineNearDupPairsMulti(emb, id, vec, minCosine, planeSets = 1,
      planes = planes, dims = dims, storage = storage)

  /** Per-query top-k rank — the DEFAULT path is the bounded
    * [[graft.functions.TopKAggregator]]: partial aggregation keeps at
    * most k candidates per query per MAP task, so the shuffle moves
    * O(queries × k × partitions) rows instead of every scored
    * candidate — the shape that survives a billion-vector corpus.
    * Registered as a DataFrame `udaf` over a (vecId, cosine) struct,
    * so the scored frame never leaves columnar form. Output is
    * identical to [[scoreAndRankWindow]] (same total order,
    * NaN-greatest like Spark's sort; SimilaritySpec pins it). */
  /** Multi-probe near-dup: OR of `planeSets` INDEPENDENT hyperplane
    * sets (distinct md5 salts), exactly how MinHash raises recall
    * with more bands — a true near-pair is missed only if every set
    * splits it, so miss probability decays geometrically in the
    * number of sets while candidate volume grows linearly. Candidates
    * from all sets are pair-deduped BEFORE the exact cosine verify,
    * so each surviving pair pays the dot product once.
    *
    * Scale shape: one posexplode to (set, bucket) keys — the
    * equi-join is on (set, bucket), so sets never cross-join; state
    * per bucket is corpus/2^planes as in the single-set form, times
    * planeSets map-side rows. The candidate join, the `vec_a <
    * vec_b` filter and the pair-dedup all run over BARE id pairs —
    * quantized vectors and norms are re-joined from the persisted
    * base only after each pair is unique, so the widest exchanges in
    * the plan (candidate join + dedup, both multiplied by planeSets
    * duplication at corpus scale) move two longs per row instead of
    * two 64-long arrays (~60x narrower); the vector payload crosses
    * the wire once per corpus row, not once per candidate. */
  def cosineNearDupPairsMulti(emb: DataFrame, id: Column, vec: Column,
      minCosine: Double, planeSets: Int = 2, planes: Int = DefaultPlanes,
      dims: Int = 64,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(planeSets >= 1)
    val bucketCols = (0 until planeSets).map { s =>
      val salt = if (s == 0) "" else s"$s:"
      bucketColWith(col("qv"), saltedPlaneWeights(salt, planes, dims))
    }
    val q = quantized(emb, id, vec)
    val base =
      if (storage == org.apache.spark.storage.StorageLevel.NONE) q
      else q.persist(storage)
    // id-only (pset, bucket) keys: vectors never enter the candidate join
    val keyed = base
      .select(col("vec_id"), posexplode(array(bucketCols: _*)))
      .withColumnRenamed("pos", "pset")
      .withColumnRenamed("col", "bucket")
    val x = keyed.select(col("pset"), col("bucket"), col("vec_id").as("vec_a"))
    val y = keyed.select(col("pset"), col("bucket"), col("vec_id").as("vec_b"))
    val pairs = x.join(y, Seq("pset", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .dropDuplicates("vec_a", "vec_b") // verify each candidate pair once
    pairs
      .join(base.select(col("vec_id").as("vec_a"), col("qv").as("qv_a"),
        col("nrm").as("nrm_a")), Seq("vec_a"))
      .join(base.select(col("vec_id").as("vec_b"), col("qv").as("qv_b"),
        col("nrm").as("nrm_b")), Seq("vec_b"))
      .withColumn("cosine",
        cosine(dotQ(col("qv_a"), col("qv_b")), col("nrm_a"), col("nrm_b")))
      .filter(col("cosine") >= minCosine)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  private def scoreAndRank(joined: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopKAggregator(k))
    joined.filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        cosine(dotQ(col("qv"), col("q_qv")), col("nrm"), col("q_nrm")))
      // a zero-norm vector has no defined cosine: ANSI mode raises on
      // the 0/0, non-ANSI yields NULL — dropped here in BOTH rank
      // forms (the aggregator's encoder would otherwise coerce the
      // null to 0.0 while the window sorts it last; SimilaritySpec
      // pins the shared behavior)
      .filter(col("cosine").isNotNull)
      .groupBy(col("query_id"))
      // the udaf flattens the TopEntry input encoder: (vecId, cosine)
      .agg(topk(col("vec_id"), col("cosine")).as("top"))
      .select(col("query_id"), posexplode(col("top.items")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.vecId").as("vec_id"), col("col.cosine").as("cosine"))
  }

  /** The row_number-window twin of [[scoreAndRank]]: shuffles EVERY
    * scored candidate to its query's reducer before discarding all
    * but k. Kept as the equivalence pin for the aggregator (and as
    * the simplest-possible reference form). */
  private[graft] def scoreAndRankWindow(joined: DataFrame, k: Int): DataFrame =
    joined.filter(col("vec_id") =!= col("query_id"))
      .withColumn("dot", dotQ(col("qv"), col("q_qv")))
      .withColumn("cosine", cosine(col("dot"), col("nrm"), col("q_nrm")))
      .filter(col("cosine").isNotNull) // degenerate vectors: see scoreAndRank
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cosine"))

  /** Brute-force top-k through the window-rank twin — kept so q65 vs
    * q19 pins aggregator ≡ window end-to-end through the driver
    * oracle (both orders are the same total order). */
  def bruteForceTopKWindow(emb: DataFrame, id: Column, vec: Column,
      queryIds: Seq[Long], k: Int): DataFrame = {
    val base = quantized(emb, id, vec)
    val queries = base.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("nrm").as("q_nrm"))
    scoreAndRankWindow(base.crossJoin(broadcast(queries)), k)
  }

  /** Alias retained from when the aggregator was the opt-in path; the
    * bounded aggregator is now the default inside [[bruteForceTopK]]. */
  def bruteForceTopKAgg(emb: DataFrame, id: Column, vec: Column,
      queryIds: Seq[Long], k: Int): DataFrame =
    bruteForceTopK(emb, id, vec, queryIds, k)

  /** Semantic deduplication — the SemDeDup protocol (Abbas et al.
    * 2023, public method): cluster the embedding space, then compare
    * vectors ONLY within their cluster and drop all but one of every
    * semantic-duplicate group. Here the clustering is the same
    * deterministic seed-centroid assignment as [[ivfTopK]] (lowest
    * `nCells` ids as centroids, exact integer cosine, min_by hash-agg
    * argmax), and the keep policy is deterministic: a vector is DROPPED
    * iff some SMALLER-id vector in its cell clears `minCosine` against
    * it — so every duplicate group keeps exactly its minimum id, the
    * same survivor rule as the text-side dedup family.
    *
    * Output: one row per vector — (vec_id, cell, n_dup_smaller,
    * max_cosine, keep); max_cosine is the worst smaller-id similarity
    * (NULL for vectors with none above threshold).
    *
    * Scale shape: this is the whole point of SemDeDup — the pair
    * comparison is an equi-join on the CELL key, never corpus², and
    * cell population is corpus/nCells on average (nCells is chosen
    * ~sqrt(corpus) at scale, bounding per-cell pair work). Hot cells
    * are the residual skew risk: `maxCellSize > 0` excludes cells
    * above that population from the pair comparison entirely — the
    * same frequency-cap recipe as hot shingles, and CONSERVATIVE for
    * a dedup (an uncompared vector is kept, never wrongly dropped;
    * a capped cell really means "re-cluster this region finer"). The
    * candidate join moves bare (cell, vec_id) pairs; quantized vectors
    * re-join from the persisted base only per unique pair — the
    * thinned-kernel shape shared with [[cosineNearDupPairsMulti]]. */
  def semanticDedup(emb: DataFrame, id: Column, vec: Column,
      minCosine: Double, nCells: Int = 16, maxCellSize: Long = 0,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val base0 = quantized(emb, id, vec)
    val base =
      if (storage == org.apache.spark.storage.StorageLevel.NONE) base0
      else base0.persist(storage)
    val cents = collectCentroids(base.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cent_id"), col("qv").as("c_qv"),
        col("nrm").as("c_nrm")))
    val assigned0 = assignCells(base, cents)
    val assigned =
      if (storage == org.apache.spark.storage.StorageLevel.NONE) assigned0
      else assigned0.persist(storage)
    val ids0 = assigned.select(col("cell"), col("vec_id"))
    val ids =
      if (maxCellSize > 0) {
        val hot = ids0.groupBy(col("cell")).agg(count(lit(1)).as("f"))
          .filter(col("f") > maxCellSize).select(col("cell"))
        // the hot set is at most nCells rows: broadcast anti-join
        ids0.join(broadcast(hot), Seq("cell"), "left_anti")
      } else ids0
    val pairs = ids.select(col("cell"), col("vec_id").as("vec_a"))
      .join(ids.select(col("cell"), col("vec_id").as("vec_b")), Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
    val dups = pairs
      .join(assigned.select(col("vec_id").as("vec_a"), col("qv").as("qv_a"),
        col("nrm").as("nrm_a")), Seq("vec_a"))
      .join(assigned.select(col("vec_id").as("vec_b"), col("qv").as("qv_b"),
        col("nrm").as("nrm_b")), Seq("vec_b"))
      .withColumn("cosine",
        cosine(dotQ(col("qv_a"), col("qv_b")), col("nrm_a"), col("nrm_b")))
      .filter(col("cosine") >= minCosine)
      .groupBy(col("vec_b").as("vec_id"))
      .agg(count(lit(1)).as("n_dup_smaller"), max(col("cosine")).as("max_cosine"))
    assigned.select(col("vec_id"), col("cell"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_dup_smaller"), lit(0L)).as("n_dup_smaller"),
        col("max_cosine"),
        col("n_dup_smaller").isNull.as("keep"))
  }

  /** Embedding-space benchmark decontamination — the similarity-space
    * twin of [[TextAnalysis.decontaminate]]'s n-gram sweep (the
    * GPT-3/PaLM-style protocol applied to embeddings): flag every
    * corpus vector whose exact cosine against ANY benchmark vector
    * clears `minCosine`, with the hit count and the worst (highest)
    * similarity per flagged vector.
    *
    * Scale shape: benchmark suites are tiny (thousands of vectors)
    * against a 100 TB corpus, so the BENCHMARK side is quantized and
    * broadcast; the corpus is scored in its scan partitions via the
    * codegen'd integer dot product ([[dotQ]]) and filtered BEFORE the
    * aggregation, so the only exchange in the plan is the partial-agg
    * collapse of (vec_id, count, max) triples for the flagged subset
    * — corpus vectors never shuffle, mirroring q83's
    * corpus-never-moves contract. Brute-force against the bench side
    * is deliberate: recall must be exact for decontamination (an LSH
    * bucket miss would leak a contaminated document into training),
    * and bench × corpus work is the small side times a map-only
    * scan. */
  def embeddingDecontaminate(corpus: DataFrame, corpusId: Column,
      corpusVec: Column, bench: DataFrame, benchId: Column,
      benchVec: Column, minCosine: Double): DataFrame = {
    val c = quantized(corpus, corpusId, corpusVec)
    val b = quantized(bench, benchId, benchVec)
      .select(col("vec_id").as("bench_id"), col("qv").as("b_qv"),
        col("nrm").as("b_nrm"))
    c.crossJoin(broadcast(b))
      .withColumn("cosine",
        cosine(dotQ(col("qv"), col("b_qv")), col("nrm"), col("b_nrm")))
      .filter(col("cosine") >= minCosine)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_bench_hits"), max(col("cosine")).as("max_cosine"))
  }

  /** Greedy k-center (farthest-point-first, Gonzalez 1985) coreset
    * selection — the diversity-maximizing "pick m representatives"
    * primitive of curation (coverage-oriented subset selection,
    * cluster seeding, eval-set picking): seed with the LOWEST vec_id,
    * then repeatedly add the point farthest from everything chosen so
    * far (max over points of min over chosen of squared L2; ties break
    * on lowest vec_id). The greedy sequence 2-approximates the optimal
    * k-center cover radius, and each new `min_dist2` is the cover
    * radius the previous prefix achieved — the classic "how many
    * representatives until coverage flattens" read-out.
    *
    * Determinism & oracle-ability: distances are exact integers on the
    * quantized grid — d²(a,b) = |a|² + |b|² − 2·a·b via the codegen'd
    * long dot — so every argmax is integer-exact and DuckDB replays
    * the same m−1 rounds as generated CTEs, bit for bit.
    *
    * Scale shape per round: the chosen prefix (≤ m vectors) folds into
    * the scan as LITERAL center columns — `least` of ≤ m codegen'd
    * integer dots, map-only, the corpus NEVER shuffles — and exactly
    * ONE max_by row crosses to the driver (the q95 bounded
    * driver-argmax discipline; m rounds = m one-row collects). The
    * quantized frame is persisted across rounds at `storage`.
    *
    * Output (m rows, driver-assembled): (sel_round 1-based, vec_id,
    * min_dist2 — 0 for the seed). Stops early if the corpus has fewer
    * than m rows. */
  def kCenterSelect(emb: DataFrame, id: Column, vec: Column, m: Int = 8,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(m >= 1, "need at least one representative")
    val base0 = quantized(emb, id, vec)
    val base =
      if (storage == org.apache.spark.storage.StorageLevel.NONE) base0
      else base0.persist(storage)
    val seed = base.orderBy(col("vec_id"))
      .select(col("vec_id"), col("qv")).head()
    // (vec_id, qv, min_dist2-at-selection); bounded at m rows
    var chosen = Vector(
      (seed.getLong(0), seed.getSeq[Long](1), 0L))
    var exhausted = false
    while (chosen.size < m && !exhausted) {
      val dCols = chosen.map { case (_, cq, _) =>
        val cNrm = cq.map(x => x * x).sum
        col("nrm") + lit(cNrm) - lit(2L) * dotQ(col("qv"), typedLit(cq))
      }
      val next = base
        .filter(!col("vec_id").isin(chosen.map(_._1): _*))
        .select(col("vec_id"), col("qv"),
          (if (dCols.size == 1) dCols.head else least(dCols: _*)).as("dmin"))
        .agg(max_by(struct(col("vec_id"), col("qv"), col("dmin")),
          struct(col("dmin"), -col("vec_id"))).as("x"))
        .select(col("x.vec_id"), col("x.qv"), col("x.dmin")).head()
      if (next.isNullAt(0)) exhausted = true
      else chosen :+= ((next.getLong(0), next.getSeq[Long](1),
        next.getLong(2)))
    }
    // the result is fully driver-assembled — nothing downstream
    // references `base`, so holding the cache would just leak one
    // corpus-sized quantized frame per call
    if (storage != org.apache.spark.storage.StorageLevel.NONE)
      base.unpersist()
    val rows = chosen.zipWithIndex.map { case ((vid, _, d), i) =>
      (i + 1L, vid, d) }
    emb.sparkSession.createDataFrame(rows)
      .toDF("sel_round", "vec_id", "min_dist2")
  }
}
