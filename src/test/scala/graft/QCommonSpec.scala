package graft

import org.apache.spark.sql.functions._
import graft.queries.{LlmQueries, QCommon}

/** QCommon.multisetEqual / multisetDiff (r21): the one-job replacement
  * for the capstones' two-sided exceptAll parity checks. The contract
  * is MULTISET equality — duplicates count, order doesn't — and must
  * agree with the exceptAll pair on every shape the capstones compare
  * (long ids, (id, band, key) index rows, array-typed sig/vec columns,
  * null keys, empty frames).
  *
  * Also the fixture guards: copy ids must be derived from the data,
  * never a hardcoded constant — a constant base aliases copy ids with
  * real ids on a salted/256× corpus (doc_id ≥ 1e6) — and the q130
  * chain corpus must fail diagnosably when it cannot be planted.
  */
class QCommonSpec extends SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def viaExceptAll(a: org.apache.spark.sql.DataFrame,
                           b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).count() == 0L && b.exceptAll(a).count() == 0L

  test("multisetEqual agrees with the exceptAll pair on ids, duplicates and order") {
    val a = Seq(1L, 2L, 2L, 3L).toDF("id")
    val same = Seq(3L, 2L, 1L, 2L).toDF("id")      // reordered, equal
    val fewer = Seq(1L, 2L, 3L).toDF("id")          // multiplicity differs
    val other = Seq(1L, 2L, 2L, 4L).toDF("id")      // element differs
    for ((x, y) <- Seq((a, same), (a, fewer), (a, other), (fewer, a)))
      assert(QCommon.multisetEqual(x, y) == viaExceptAll(x, y))
    assert(QCommon.multisetEqual(a, same))
    assert(!QCommon.multisetEqual(a, fewer))
    assert(!QCommon.multisetEqual(a, other))
  }

  test("multisetEqual: multi-column rows, null keys, column-order alignment") {
    val a = Seq((1L, Some("x")), (2L, None), (2L, None)).toDF("id", "t")
    val b = Seq((2L, None), (1L, Some("x")), (2L, None)).toDF("id", "t")
    assert(QCommon.multisetEqual(a, b))
    assert(viaExceptAll(a, b))
    // b's columns in a different ORDER still compare by name
    val bSwapped = b.select($"t", $"id")
    assert(QCommon.multisetEqual(a, bSwapped))
    val c = Seq((1L, Some("x")), (2L, None)).toDF("id", "t") // one null row fewer
    assert(!QCommon.multisetEqual(a, c))
    assert(!viaExceptAll(a, c))
  }

  test("multisetEqual: array-typed columns (the sig/vec store shapes) and empty frames") {
    val a = Seq((1L, Seq(1L, 2L)), (2L, Seq(3L))).toDF("id", "sig")
    val b = Seq((2L, Seq(3L)), (1L, Seq(1L, 2L))).toDF("id", "sig")
    val c = Seq((2L, Seq(3L)), (1L, Seq(1L, 9L))).toDF("id", "sig")
    assert(QCommon.multisetEqual(a, b))
    assert(!QCommon.multisetEqual(a, c))
    val e = a.limit(0)
    assert(QCommon.multisetEqual(e, a.limit(0)))
    assert(!QCommon.multisetEqual(e, a))
    assert(!QCommon.multisetEqual(a, e))
  }

  test("multisetDiff reports the differing rows with signed multiplicity deltas") {
    val a = Seq(1L, 2L, 2L).toDF("id")
    val b = Seq(2L, 3L).toDF("id")
    val d = QCommon.multisetDiff(a, b)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(d == Map(1L -> 1L, 2L -> 1L, 3L -> -1L))
  }

  test("multisetDiff fails loudly on schema drift and reserved columns (r21 ADVICE)") {
    val a = Seq(1L, 2L).toDF("id")
    // b carries an EXTRA column: the old exceptAll pair errored on the
    // arity mismatch; the by-name form must not silently project it
    // away and compare equal
    val wide = Seq((1L, "x"), (2L, "y")).toDF("id", "extra")
    val e1 = intercept[IllegalArgumentException](QCommon.multisetDiff(a, wide))
    assert(e1.getMessage.contains("column sets differ"))
    val e2 = intercept[IllegalArgumentException](QCommon.multisetDiff(wide, a))
    assert(e2.getMessage.contains("column sets differ"))
    // reserved helper names in an input would corrupt the tagged union
    val clash = Seq((1L, 1L)).toDF("id", "graft_mse_side")
    val e3 = intercept[IllegalArgumentException](QCommon.multisetDiff(clash, clash))
    assert(e3.getMessage.contains("graft_mse_side"))
  }

  test("parJobs runs independent Spark jobs concurrently and rethrows the cause (r22)") {
    // three independent writes land correctly when submitted in parallel
    Seq("pj_a", "pj_b", "pj_c").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    QCommon.parJobs(
      () => graft.ops.Bucketed.writeBucketed(
        Seq(1L, 2L).toDF("k"), "pj_a", Seq("k"), 2),
      () => graft.ops.Bucketed.writeBucketed(
        Seq(3L).toDF("k"), "pj_b", Seq("k"), 2),
      () => graft.ops.Bucketed.writeBucketed(
        Seq(4L, 5L, 6L).toDF("k"), "pj_c", Seq("k"), 2))
    assert(spark.table("pj_a").count() == 2)
    assert(spark.table("pj_b").count() == 1)
    assert(spark.table("pj_c").count() == 3)
    // parallel APPENDS to distinct tables preserve contents
    QCommon.parJobs(
      () => graft.ops.Bucketed.appendBucketed(
        Seq(10L).toDF("k"), "pj_a", Seq("k"), 2),
      () => graft.ops.Bucketed.appendBucketed(
        Seq(20L).toDF("k"), "pj_b", Seq("k"), 2),
      () => graft.ops.Bucketed.appendBucketed(
        Seq(30L).toDF("k"), "pj_c", Seq("k"), 2))
    assert(spark.table("pj_a").as[Long].collect().toSet == Set(1L, 2L, 10L))
    assert(spark.table("pj_b").as[Long].collect().toSet == Set(3L, 20L))
    assert(spark.table("pj_c").as[Long].collect().toSet == Set(4L, 5L, 6L, 30L))
    Seq("pj_a", "pj_b", "pj_c").foreach(t => spark.sql(s"DROP TABLE $t"))
    // a failing task surfaces its CAUSE, not the ExecutionException
    val boom = intercept[IllegalArgumentException](
      QCommon.parJobs(
        () => (),
        () => throw new IllegalArgumentException("pj-boom")))
    assert(boom.getMessage == "pj-boom")
  }

  test("parJobs waits for every task before rethrowing an interrupt of its caller") {
    // the caller is interrupted while a sibling task still runs: the
    // InterruptedException must surface only after every task has
    // finished, with the caller's interrupt flag restored
    val running = new java.util.concurrent.atomic.AtomicInteger(0)
    val started = new java.util.concurrent.CountDownLatch(2)
    def task(ms: Long): () => Unit = () => {
      running.incrementAndGet(); started.countDown()
      try Thread.sleep(ms) finally running.decrementAndGet()
    }
    @volatile var thrown: Throwable = null
    @volatile var runningAtThrow = -1
    @volatile var flagRestored = false
    val caller = new Thread(() =>
      try QCommon.parJobs(task(100L), task(1500L))
      catch { case t: Throwable =>
        runningAtThrow = running.get()
        flagRestored = Thread.currentThread().isInterrupted
        thrown = t
      })
    caller.start()
    started.await()
    caller.interrupt()
    caller.join(30000L)
    assert(!caller.isAlive)
    assert(thrown.isInstanceOf[InterruptedException], String.valueOf(thrown))
    assert(runningAtThrow == 0, s"$runningAtThrow task(s) still running at the throw")
    assert(flagRestored)
  }

  test("chainCorpus fails diagnosably when the fixed sub-corpus bound misses the id space (r19 review)") {
    import spark.implicits._
    // pre-guard this was an opaque NPE from max(doc_id) = null
    val tall = Seq((2000000L, "aa bb"), (3000000L, "cc dd")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("chain_guard").toString
    tall.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    try {
      val e = intercept[IllegalArgumentException](QCommon.chainCorpus(spark, tmp))
      assert(e.getMessage.contains("doc_id < 1500"), e.getMessage)
    } finally {
      new scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("chainCorpus fails diagnosably on a too-small sub-corpus (r19 ADVICE: tercile guard)") {
    import spark.implicits._
    // maxId after the ×10 shift = 20 < 60: the -9-shifted chain ids
    // would collide / go negative — pre-guard the fixture corrupted
    // SILENTLY instead of failing
    val tiny = Seq((0L, "aa bb"), (1L, "cc dd"), (2L, "ee ff"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("chain_tiny").toString
    tiny.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    try {
      val e = intercept[IllegalArgumentException](QCommon.chainCorpus(spark, tmp))
      assert(e.getMessage.contains("too small"), e.getMessage)
    } finally {
      new scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("q109/q119/q126/q127 derive their copy-id base — invariants hold when real ids straddle 1e6 (r19 queries deep-dive)") {
    import spark.implicits._
    // the salted shape: real ids straddle the old hardcoded 1000000L
    // base. Pre-fix, q119/q126/q127 admitted doc 1000001 (a REAL odd
    // doc) and their `id >= 1000000L` re-ingest invariant read FALSE.
    def words(seed: Int) = (0 until 10).map(i => s"w${seed}x$i").mkString(" ")
    val salted = Seq((2L, words(1)), (999999L, words(2)),
        (1000001L, words(3)), (1500000L, words(4)))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("qid_guard").toString
    salted.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    try {
      for (q <- Seq("q119_incremental_lsh", "q126_incremental_curate",
          "q127_incremental_lsh_indexed")) {
        val df = LlmQueries.queries(q)(spark, tmp)
        val row = df.head()
        df.schema.fields.zipWithIndex.foreach {
          case (f, i) if f.dataType == org.apache.spark.sql.types.BooleanType =>
            assert(row.getBoolean(i), s"$q: invariant '${f.name}' is false")
          case _ =>
        }
      }
      // q109's oracle derives the same MAX+1 base: admits = the odd ids
      val ids = LlmQueries.queries("q109_incremental_dedup")(spark, tmp)
        .as[Long].collect().toSeq
      assert(ids == Seq(999999L, 1000001L), ids.toString)
    } finally {
      spark.catalog.clearCache()
      graft.dsl.Rel.releaseTracked()
      new scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("copy-id base derivation survives an EMPTY corpus — no opaque NPE (r19 review)") {
    import spark.implicits._
    // pre-guard, QCommon.copyBase's max(doc_id) was NULL here and
    // getLong threw an opaque NPE; the guarded base (1L) restores the
    // pre-derivation behavior: empty/vacuous results matching the oracle
    val tmp = java.nio.file.Files.createTempDirectory("empty_guard").toString
    Seq.empty[(Long, String)].toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    try {
      for (q <- Seq("q119_incremental_lsh", "q126_incremental_curate",
          "q127_incremental_lsh_indexed")) {
        val df = LlmQueries.queries(q)(spark, tmp)
        val row = df.head()
        assert(row.getLong(0) == 0L, s"$q: n_batch on empty corpus")
        df.schema.fields.zipWithIndex.foreach {
          case (f, i) if f.dataType == org.apache.spark.sql.types.BooleanType =>
            assert(row.getBoolean(i), s"$q: invariant '${f.name}' is false")
          case _ =>
        }
      }
      assert(LlmQueries.queries("q109_incremental_dedup")(spark, tmp).count() == 0L)
    } finally {
      spark.catalog.clearCache()
      graft.dsl.Rel.releaseTracked()
      new scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("chainCorpus plants one chain member per prefix tercile, ids collision-free") {
    val (corpus, t1, t2, aId, bId, cId) = QCommon.chainCorpus(spark, dir)
    import org.apache.spark.sql.functions._
    assert(aId < t1 && t1 <= bId && bId < t2 && t2 <= cId)
    assert(Seq(aId, bId, cId).forall(_ % 10 == 1)) // never a x10 real id
    assert(corpus.groupBy(col("doc_id")).count()
      .filter(col("count") > 1).count() == 0)
  }
}
