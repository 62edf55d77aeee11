package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd BPE encode: subword tokens of a text under a
  * learned merge table, exactly `graft.llm.Bpe.encodeText` (delegated —
  * one source of truth with the driver-side trainer, so the q116
  * sample re-encode cannot drift). The merge table rides as a foldable
  * `array<array<string>>` literal (rank = index) — the
  * [[NearestCellsF]] codebook pattern: model-sized, embedded in the
  * plan, no UDF serialization, no broadcast handle.
  *
  * Unlike the codebook (read positionally per row), BPE needs the
  * merges as a rank HASH MAP; building it per row would dominate the
  * encode. A THREAD-LOCAL identity-keyed memo caches the converted
  * map: each Spark task deserializes its own copy of the literal's
  * ArrayData, so a shared single slot would be overwritten by
  * concurrent tasks and miss on nearly every row — per-thread slots
  * hit on every row after the task's first. Identity keying is only
  * sound for a CONSTANT merges argument (a non-literal column could
  * present the same buffer object with different contents, returning
  * stale ranks — ADVICE r15), so `checkInputDataTypes` rejects a
  * non-foldable merges child at analysis.
  *
  * Registered as SQL function `graft_bpe_tokens(text, merges)` by
  * [[GraftExtensions]].
  */
case class BpeTokensF(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(ArrayType(StringType, _), _)) =>
        if (right.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          "graft_bpe_tokens requires a foldable (plan-constant) merges " +
            "argument: the rank memo is keyed on the deserialized " +
            "constant's object identity, which only a literal guarantees")
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"graft_bpe_tokens expects (string, array<array<string>>), got " +
          s"(${a.simpleString}, ${b.simpleString})")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(t: Any, m: Any): Any =
    BpeTokensF.compute(t.asInstanceOf[UTF8String], m.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, m) => s"graft.plans.BpeTokensF.compute($t, $m)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeTokensF =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_bpe_tokens"
}

object BpeTokensF {

  /** Per-thread state: the identity-keyed rank map for the current
    * merges literal, plus a bounded word→encoded-tokens memo. BPE
    * encodes PER WORD (no cross-word merges — [[graft.llm.Bpe
    * .encodeText]] is split + per-word greedy apply), so memoizing
    * whole words is byte-exact, and Zipf repetition makes it the
    * dominant win: ~25 word encodes per distinct word at 64×
    * (BENCH_NOTES §Retired probes). Cleared when the merges object
    * changes; cleared wholesale at `MaxMemo` entries (regrows hot words
    * immediately — an LRU's bookkeeping costs more than the rare
    * rebuild). Tokens are cached as UTF8String so conversion is also
    * once per distinct word. */
  private final class State(val key: AnyRef,
                            val ranks: Map[(String, String), Int]) {
    val words = new java.util.HashMap[String, Array[UTF8String]]()
  }

  private val MaxMemo = 1 << 16

  private val memo = new ThreadLocal[State]

  private def stateFor(m: ArrayData): State = {
    val cached = memo.get()
    if (cached != null && (cached.key eq m)) cached
    else {
      val n = m.numElements()
      val b = Map.newBuilder[(String, String), Int]
      var i = 0
      while (i < n) {
        val p = m.getArray(i)
        if (p.numElements() >= 2)
          b += ((p.getUTF8String(0).toString, p.getUTF8String(1).toString) -> i)
        i += 1
      }
      val st = new State(m, b.result())
      memo.set(st)
      // release at task end: executor threads are pooled, and a
      // ThreadLocal holding up to MaxMemo word->token arrays per
      // thread would otherwise pin tens of MB per thread for the
      // process lifetime after the BPE stage finishes (r17 review).
      // Re-registration per new State is idempotent; a next task on
      // the same thread just rebuilds from the literal (cheap once
      // per task). Driver-side eval (TaskContext null, e.g. constant
      // folding) keeps the small state — no pool to pollute.
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null) tc.addTaskCompletionListener[Unit](_ => memo.remove())
      st
    }
  }

  private def encodedWord(st: State, w: String): Array[UTF8String] = {
    val hit = st.words.get(w)
    if (hit != null) hit
    else {
      val toks = graft.llm.Bpe.encodeWord(w, st.ranks)
      val out = new Array[UTF8String](toks.length)
      var i = 0
      while (i < toks.length) { out(i) = UTF8String.fromString(toks(i)); i += 1 }
      if (st.words.size >= MaxMemo) st.words.clear()
      st.words.put(w, out)
      out
    }
  }

  def compute(t: UTF8String, m: ArrayData): ArrayData = {
    val st = stateFor(m)
    val words = t.toString.split(" ", -1)
    var total = 0
    var i = 0
    val encoded = new Array[Array[UTF8String]](words.length)
    while (i < words.length) {
      val e = encodedWord(st, words(i))
      encoded(i) = e
      total += e.length
      i += 1
    }
    val out = new Array[AnyRef](total)
    var o = 0
    i = 0
    while (i < words.length) {
      val e = encoded(i)
      var j = 0
      while (j < e.length) { out(o) = e(j); o += 1; j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }
}
