package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Bounded k-min-values buffer: sorted ascending, distinct, length <= k. */
case class KMinBuf(items: Seq[String])

/** Bounded k-minimum-values sketch state — the scale path for the KMV
  * distinct-count estimate (Bar-Yossef 2002). The `distinct()` +
  * `row_number` window form shuffles the ENTIRE distinct (key, hash)
  * set and sorts each key's full set in one reducer task — the exact
  * cost (and skew profile) of the exact count the sketch exists to
  * avoid: a hot key with 10^9 distinct values lands 10^9 rows in one
  * WindowExec task. This aggregator keeps the k smallest DISTINCT
  * hashes in its buffer, so partial aggregation (map-side combine)
  * ships at most k rows per key per map task, independent of the
  * key's true cardinality — the same shape fix TopKAggregator applied
  * to ANN ranking.
  *
  * Determinism: the merge order of partial buffers varies run to run,
  * but the k smallest elements of a set under a total order are a
  * pure function of the set, so the result is stable — and because
  * the elements are md5-prefix hex strings, it is bit-identical
  * across engines (the property q154's DuckDB oracle checks).
  *
  * Buffer is a sorted distinct Vector: insertion keeps it sorted,
  * merge is a bounded deduplicating merge of two sorted runs. The
  * aggregator itself only requires k >= 1 — CALLERS enforce the cap
  * their math needs (kmvDistinct/kmvOverlap keep k <= 64 so
  * (k-1)·2^56 stays inside a BIGINT; hashReservoir draws up to
  * k = 4096 (hash, id) entries; `Heuristics.cappedDistinct` keeps raw
  * values, not hashes, at the cap of the gate that reads its count).
  * Hashes are fixed-width hex, so
  * lexicographic String order == numeric order == Spark's UTF8String
  * binary order — but ANY strings work: the k smallest distinct
  * elements under a total order are a pure function of the set, which
  * is all the merge relies on. */
class KMinValuesAggregator(k: Int)
    extends Aggregator[String, KMinBuf, KMinBuf] {
  require(k >= 1, "k must be positive")

  override def zero: KMinBuf = KMinBuf(Vector.empty)

  override def reduce(buf: KMinBuf, h: String): KMinBuf = {
    if (h == null) buf // null values are not set members
    else {
      val items = buf.items
      if (items.length >= k && items.last <= h) buf // not in the k smallest
      else {
        val i = items.indexWhere(_ >= h)
        if (i >= 0 && items(i) == h) buf // already present
        else {
          val pos = if (i == -1) items.length else i
          KMinBuf(((items.take(pos) :+ h) ++ items.drop(pos)).take(k))
        }
      }
    }
  }

  override def merge(a: KMinBuf, b: KMinBuf): KMinBuf = {
    // bounded deduplicating merge of two sorted distinct runs
    val out = Vector.newBuilder[String]
    var i = 0; var j = 0; var n = 0
    var last: String = null
    while (n < k && (i < a.items.length || j < b.items.length)) {
      val takeA = j >= b.items.length ||
        (i < a.items.length && a.items(i) <= b.items(j))
      val v = if (takeA) { val x = a.items(i); i += 1; x }
              else { val x = b.items(j); j += 1; x }
      if (last == null || v != last) { out += v; last = v; n += 1 }
    }
    KMinBuf(out.result())
  }

  // output stays the product buffer: the caller reads `items` (sorted
  // ascending) declaratively — size() for n_kept, element_at(k) for
  // the kth-smallest hash the estimate divides by
  override def finish(r: KMinBuf): KMinBuf = r

  override def bufferEncoder: Encoder[KMinBuf] = Encoders.product[KMinBuf]

  override def outputEncoder: Encoder[KMinBuf] = Encoders.product[KMinBuf]
}
