package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Uniform-capacity KLL-style quantile sketch (Karnin, Lang & Liberty
  * 2016; compactor lineage Manku, Rajagopalan & Lindsay 1998/99) as a
  * mergeable Aggregator — completes the mergeable-sketch family next
  * to [[Sketches]] (HLL distinct), [[CountMinAgg]] (point frequency)
  * and [[HeavyHittersAgg]] (top keys): bounded per-task state answering
  * ANY-φ quantile queries, where the exact forms ([[MedianAgg]], the
  * q90 2-pass global rank) either hold whole groups in memory or sort
  * the corpus. The reference's quantile story is exactly those two
  * exact shapes [R: test/e2e/pig/ percentile-style scripts]; at 100 TB
  * a rank query must ship `O(k·log(n/k))` doubles per task, not rows.
  *
  * Structure: a ladder of levels; level `l` holds items of weight
  * `2^l`. Inserts append to the level-0 ring; a full level sorts and
  * keeps every second item (an alternating per-level parity picks the
  * offset, so consecutive compaction errors cancel), promoting the
  * survivors one level up with doubled weight. A compaction of `2m`
  * items at weight `w` conserves total weight (`2m·w = m·2w`) and
  * perturbs any rank by at most `w`, giving the deterministic
  * worst-case rank error `ε_wc = 2·levels/k` — k=800 keeps
  * `ε_wc < 0.05` beyond 150M rows (≈19 levels), which is the bound the
  * q120 oracle asserts; measured error is far smaller because the
  * parity alternation cancels (KllSpec pins 0.02 at n≤120k).
  *
  * The finished sketch is a plain `array<array<double>>` column
  * (`levels(l)` = items of weight `2^l`) that PERSISTS and re-merges
  * later via [[KllMergeAgg]] without touching raw data — the
  * daily→monthly [[Sketches]] lifecycle, for quantiles. Weight
  * conservation is exact (`Σ items·2^l == rows inserted`, oracle-
  * asserted), so the re-merged sketch answers over the true union
  * size.
  *
  * Buffer discipline (the MedianAgg/HeavyHitters lesson): level 0 is a
  * fixed `Array[Double]` filled in place; upper levels are
  * exact-length arrays touched only at compaction. udaf wraps the
  * Aggregator in a TypedImperativeAggregate, so the buffer lives as a
  * JVM object between rows and serializes only at shuffle/spill
  * boundaries. Null and NaN inputs are skipped like count (udaf
  * Aggregators receive SQL NULLs unfiltered — the boxed-input rule).
  */
case class KllBuf(
    var n0: Int,
    l0: Array[Double],
    var upper: Array[Array[Double]],
    var parity: Long)

class KllAgg(k: Int) extends Aggregator[java.lang.Double, KllBuf, Seq[Seq[Double]]] {
  require(k >= 8, "kll capacity must be at least 8")

  override def zero: KllBuf = KllBuf(0, new Array[Double](k), Array.empty, 0L)

  /** Sort `items`, keep one leftover when the count is odd (no error
    * contribution), promote every second of the rest. Returns
    * (survivorsForNextLevel, leftoverAtThisLevel). */
  private def compactItems(items: Array[Double], par: Boolean): (Array[Double], Array[Double]) = {
    java.util.Arrays.sort(items)
    val odd = items.length % 2 == 1
    // leftover: max when parity 0, min when parity 1 — symmetric, no bias
    val (start, leftover) =
      if (!odd) (0, Array.emptyDoubleArray)
      else if (!par) (0, Array(items(items.length - 1)))
      else (1, Array(items(0)))
    val m = (items.length - (if (odd) 1 else 0)) / 2
    val out = new Array[Double](m)
    val off = if (par) 1 else 0
    var i = 0
    while (i < m) { out(i) = items(start + 2 * i + off); i += 1 }
    (out, leftover)
  }

  /** Compact every level over capacity, bottom-up (level 0 = l0 ring,
    * upper(j) = level j+1). Flips that level's parity bit. */
  private def cascade(buf: KllBuf): Unit = {
    if (buf.n0 == k) {
      val (up, left) = compactItems(java.util.Arrays.copyOf(buf.l0, k), (buf.parity & 1L) != 0L)
      buf.parity ^= 1L
      buf.n0 = left.length
      System.arraycopy(left, 0, buf.l0, 0, left.length)
      if (buf.upper.isEmpty) buf.upper = Array(up)
      else buf.upper(0) = buf.upper(0) ++ up
    }
    var j = 0
    while (j < buf.upper.length) {
      if (buf.upper(j).length > k) {
        val bit = j + 1
        val (up, left) = compactItems(buf.upper(j), (buf.parity >> bit & 1L) != 0L)
        buf.parity ^= 1L << bit
        buf.upper(j) = left
        if (j + 1 >= buf.upper.length) buf.upper = buf.upper :+ up
        else buf.upper(j + 1) = buf.upper(j + 1) ++ up
      }
      j += 1
    }
  }

  override def reduce(buf: KllBuf, v: java.lang.Double): KllBuf = {
    if (v != null && !v.isNaN) {
      if (buf.n0 == k) cascade(buf)
      buf.l0(buf.n0) = v.doubleValue()
      buf.n0 += 1
    }
    buf
  }

  override def merge(a: KllBuf, b: KllBuf): KllBuf = {
    // parity counts compactions mod 2 per level: XOR combines both
    // histories, as if all compactions had happened in one buffer —
    // dropping b's word (pre-r17) weakened the alternating-offset
    // error cancellation under merge-heavy plans
    a.parity ^= b.parity
    var i = 0
    while (i < b.n0) { // b's level-0 items re-insert one by one
      if (a.n0 == k) cascade(a)
      a.l0(a.n0) = b.l0(i)
      a.n0 += 1
      i += 1
    }
    if (b.upper.nonEmpty) {
      if (a.upper.length < b.upper.length)
        a.upper = a.upper ++ Array.fill(b.upper.length - a.upper.length)(Array.emptyDoubleArray)
      var j = 0
      while (j < b.upper.length) {
        a.upper(j) = a.upper(j) ++ b.upper(j)
        j += 1
      }
      cascade(a)
    }
    a
  }

  override def finish(buf: KllBuf): Seq[Seq[Double]] = {
    val lvl0 = java.util.Arrays.copyOf(buf.l0, buf.n0)
    val all = lvl0 +: buf.upper
    all.map(a => scala.collection.immutable.ArraySeq.unsafeWrapArray(a): Seq[Double]).toSeq
  }

  override def bufferEncoder: Encoder[KllBuf] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[KllBuf]()
  override def outputEncoder: Encoder[Seq[Seq[Double]]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Seq[Double]]]()
}

/** Re-merge PERSISTED sketches without raw data: rebuild a buffer from
  * each `array<array<double>>` sketch column and run the same
  * compaction — the [[CountMinMergeAgg]] analog. The merged sketch
  * obeys the same `2·levels/k` bound over the union (mergeability in
  * the Agarwal et al. PODS'12 sense). */
class KllMergeAgg(k: Int) extends Aggregator[Seq[Seq[Double]], KllBuf, Seq[Seq[Double]]] {
  private val inner = new KllAgg(k)

  override def zero: KllBuf = inner.zero

  /** Rebuild a read-only buffer around the decoded arrays directly —
    * [[KllAgg.merge]] only READS the b side (level 0 re-inserts item
    * by item, upper levels concatenate), so no k-capacity copy is
    * needed, and a sketch built with a BIGGER k merges fine: the
    * re-insert/cascade path trims everything to THIS k (the merged
    * sketch then obeys this k's error bound, the weaker of the two).
    *
    * The persisted `array<array<double>>` format carries no compaction
    * history, so the parity word cannot be restored exactly; seeding it
    * 0 for every input (pre-r17) made all re-merged compactions start
    * at the same offset, quietly forfeiting the alternating-error
    * cancellation that in-plan merges keep by XOR-ing histories. Seed
    * it from a content hash instead: deterministic (bit-identical
    * re-runs), and distinct sketches get independent per-level offsets
    * — cancellation holds in expectation; the worst-case `2·levels/k`
    * bound never depended on parity. */
  private def toBuf(sk: Seq[Seq[Double]]): KllBuf = {
    if (sk.isEmpty) inner.zero
    else {
      val lvl0 = sk.head.toArray
      val upper = sk.tail.map(_.toArray).toArray
      var h = scala.util.hashing.MurmurHash3.arrayHash(lvl0, upper.length + 1)
      var j = 0
      while (j < upper.length) {
        h = scala.util.hashing.MurmurHash3.mix(h, upper(j).length)
        j += 1
      }
      KllBuf(lvl0.length, lvl0, upper, h.toLong & 0xffffffffL)
    }
  }

  override def reduce(buf: KllBuf, sk: Seq[Seq[Double]]): KllBuf =
    if (sk == null) buf else inner.merge(buf, toBuf(sk))

  override def merge(a: KllBuf, b: KllBuf): KllBuf = inner.merge(a, b)

  override def finish(buf: KllBuf): Seq[Seq[Double]] = inner.finish(buf)

  override def bufferEncoder: Encoder[KllBuf] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[KllBuf]()
  override def outputEncoder: Encoder[Seq[Seq[Double]]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Seq[Double]]]()
}

object QuantileSketch {

  val DefaultK = 800

  /** Whole-input sketch: ONE row holding the `array<array<double>>`
    * ladder under `as`. */
  def sketch(df: DataFrame, value: Column, k: Int = DefaultK,
             as: String = "kll"): DataFrame = {
    val f = udaf(new KllAgg(k))
    df.agg(f(value.cast("double")).as(as))
  }

  /** Per-group sketches (one per day/source) for later re-merge. */
  def sketchBy(df: DataFrame, groupCols: Seq[String], value: Column,
               k: Int = DefaultK, as: String = "kll"): DataFrame = {
    val f = udaf(new KllAgg(k))
    df.groupBy(groupCols.map(col): _*).agg(f(value.cast("double")).as(as))
  }

  /** Merge materialized sketches down to coarser groups without
    * re-reading raw data. */
  def mergeSketches(df: DataFrame, groupCols: Seq[String],
                    sketchCol: String = "kll", k: Int = DefaultK): DataFrame = {
    val f = udaf(new KllMergeAgg(k))
    df.groupBy(groupCols.map(col): _*).agg(f(col(sketchCol)).as(sketchCol))
  }

  /** Total weight carried by a sketch column — exactly the number of
    * rows inserted (weight conservation; oracle-asserted). Pure column
    * math over the `O(k·log n)`-sized array. */
  def totalWeight(sk: Column): Column =
    aggregate(
      flatten(transform(sk, (arr, l) =>
        transform(arr, _ => pow(lit(2.0), l).cast("long")))),
      lit(0L), (acc, w) => acc + w)

  /** The sketch's items as ONE sorted `array<struct<value,weight>>`
    * column — compute this once per sketch row and feed any number of
    * [[quantileAt]] calls. The finding behind the split (BENCH_NOTES
    * §Round 16, q120 attribution):
    * inlining N self-contained `quantile` trees into one projection
    * cost 5.1 s for N=5 at sf0.1 (a super-linear optimizer/codegen
    * blowup on the duplicated sort/flatten subtrees — 50× ONE tree's
    * 0.09 s), where sort-once-then-fold-per-φ runs the same math in
    * 0.12 s. */
  def weightedItems(sk: Column): Column =
    array_sort(flatten(transform(sk, (arr, l) =>
      transform(arr, v =>
        struct(v.as("value"), pow(lit(2.0), l).cast("long").as("weight"))))))

  /** φ-quantile from a precomputed [[weightedItems]] array and its
    * [[totalWeight]]: the smallest item whose cumulative weight
    * reaches `max(1, ceil(φ·N))`. One `O(k·log n)` fold; φ may be a
    * column (e.g. an exploded φ-list — the q120 shape). NaN is the
    * empty-sketch sentinel (NaN inputs are never inserted). A NULL or
    * NaN φ yields NULL (the SQL `percentile` convention) — unguarded,
    * `ceil(φ·N)` is NULL and `greatest` SKIPS nulls, so the fold would
    * silently return the sketch MINIMUM for a null φ (r17 review). */
  def quantileAt(items: Column, total: Column, phi: Column): Column = {
    val target = greatest(lit(1L), ceil(phi * total).cast("long"))
    val folded = aggregate(
      items,
      struct(lit(0L).as("cum"), lit(Double.NaN).as("ans")),
      (acc, x) => struct(
        (acc("cum") + x("weight")).as("cum"),
        when(!isnan(acc("ans")), acc("ans"))
          .when(acc("cum") + x("weight") >= target, x("value"))
          .otherwise(lit(Double.NaN)).as("ans")))
    when(phi.isNull || isnan(phi), lit(null).cast("double"))
      .otherwise(folded("ans"))
  }

  /** Single-φ convenience over [[weightedItems]]/[[quantileAt]]. For
    * SEVERAL φs over the same sketch, compute `weightedItems` once and
    * call `quantileAt` per φ — never inline this form N times into one
    * projection (see [[weightedItems]]). */
  def quantile(sk: Column, phi: Double): Column =
    quantileAt(weightedItems(sk), totalWeight(sk), lit(phi))
}
