package graft.ops

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Mutable bounded top-k buffer: parallel primitive arrays, the first
  * `n` slots sorted by (score desc, id asc). Arrays grow amortized
  * (doubling, capped at k) so a sparse group's buffer serializes ~n
  * entries at the exchange, not k slots of zero padding (r17 review:
  * at k=500 a one-candidate group would otherwise ship ~8 KB). Kept as
  * a case class so the ExpressionEncoder serializes it at
  * shuffle/spill boundaries only (udaf wraps Aggregators in a
  * TypedImperativeAggregate — the KllBuf/HeavyHitters discipline).
  * NOTE: equality is reference-based on the arrays; compare via
  * `finish`, never `==` (KernelPropsSpec does).
  */
case class TopKBuf(var n: Int, var scores: Array[Double], var ids: Array[Long])

/** Bounded top-k aggregation (SURVEY.md §4.3's "fused top-k" candidate):
  * keeps the k best (score desc, id asc) pairs in the aggregation
  * buffer. Because it's an Aggregator, Spark runs it partial/final —
  * each map task keeps only k rows, so a top-k over N scored pairs
  * shuffles O(k × partitions) instead of sorting N rows through a
  * window. That's the difference between "works" and "works at 100 TB"
  * for similarity search.
  *
  * Buffer discipline (the r15 HeavyHittersAgg lesson, measured
  * 1.27–1.47× there, 1.06–1.12× here — BENCH_NOTES §Round 16,
  * TopKAgg rework A/B): parallel primitive
  * arrays mutated in place. The steady-state reject — the common case
  * once the buffer is warm — is ONE primitive compare against the
  * current k-th element; an improving insert is a binary search plus
  * an `O(k)` primitive arraycopy shift, never a boxed-tuple Seq
  * rebuild + `sortWith`. Merge is a single sorted-run merge.
  *
  * Determinism: total order on (score desc, id asc) — same tie rule as
  * the window-function formulation, so both produce identical rows.
  * NaN scores are skipped like SQL nulls in count (a NaN can never
  * rank under the total order; every in-repo producer — esKey, cosine,
  * integer-nano BM25 — is NaN-free by construction). A NULL score or
  * id is skipped the same way (boxed input — the MedianAgg rule: a
  * primitive tuple would make a stray NULL abort the whole stage).
  */
class TopKAgg(k: Int)
  extends Aggregator[(java.lang.Double, java.lang.Long), TopKBuf, Seq[(Double, Long)]] {
  require(k > 0, "top-k size must be positive")

  /** (as, ai) strictly precedes (bs, bi) under (score desc, id asc). */
  private def precedes(as: Double, ai: Long, bs: Double, bi: Long): Boolean =
    as > bs || (as == bs && ai < bi)

  override def zero: TopKBuf =
    TopKBuf(0, new Array[Double](math.min(k, 8)), new Array[Long](math.min(k, 8)))

  private def insert(buf: TopKBuf, s: Double, id: Long): Unit = {
    if (s != s) return // NaN never ranks
    val n = buf.n
    if (n == k && !precedes(s, id, buf.scores(k - 1), buf.ids(k - 1))) return
    // first position whose element does not precede (s, id)
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (precedes(buf.scores(mid), buf.ids(mid), s, id)) lo = mid + 1 else hi = mid
    }
    if (n == buf.scores.length && n < k) { // amortized growth, capped at k
      val cap = math.min(k, math.max(8, n * 2))
      buf.scores = java.util.Arrays.copyOf(buf.scores, cap)
      buf.ids = java.util.Arrays.copyOf(buf.ids, cap)
    }
    val last = if (n == k) k - 1 else n // full buffer: k-th element falls off
    System.arraycopy(buf.scores, lo, buf.scores, lo + 1, last - lo)
    System.arraycopy(buf.ids, lo, buf.ids, lo + 1, last - lo)
    buf.scores(lo) = s
    buf.ids(lo) = id
    if (n < k) buf.n = n + 1
  }

  override def reduce(buf: TopKBuf, in: (java.lang.Double, java.lang.Long)): TopKBuf = {
    if (in._1 != null && in._2 != null) insert(buf, in._1.doubleValue, in._2.longValue)
    buf
  }

  override def merge(a: TopKBuf, b: TopKBuf): TopKBuf = {
    if (b.n == 0) return a
    if (a.n == 0) return b
    val n = math.min(k, a.n + b.n)
    val s = new Array[Double](n) // exact-length: merged buffers ship n, not k
    val ids = new Array[Long](n)
    var i = 0
    var j = 0
    var o = 0
    while (o < n) {
      // ties (identical pairs) take a's copy first — same multiset out
      val takeA = j >= b.n ||
        (i < a.n && !precedes(b.scores(j), b.ids(j), a.scores(i), a.ids(i)))
      if (takeA) { s(o) = a.scores(i); ids(o) = a.ids(i); i += 1 }
      else { s(o) = b.scores(j); ids(o) = b.ids(j); j += 1 }
      o += 1
    }
    TopKBuf(n, s, ids)
  }

  override def finish(buf: TopKBuf): Seq[(Double, Long)] = {
    val out = Vector.newBuilder[(Double, Long)]
    var i = 0
    while (i < buf.n) { out += ((buf.scores(i), buf.ids(i))); i += 1 }
    out.result()
  }

  override def bufferEncoder: Encoder[TopKBuf] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[TopKBuf]()
  override def outputEncoder: Encoder[Seq[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
}

object TopKAgg {

  /** Column form: topK(5)(col("score"), col("id")) → array<struct<_1,_2>>. */
  def topK(k: Int): (Column, Column) => Column = {
    val f = udaf(new TopKAgg(k))
    (score, id) => f(score, id)
  }
}
