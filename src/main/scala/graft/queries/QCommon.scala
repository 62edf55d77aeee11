package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Shared helpers for the driver-contract query objects — ONE home for
  * the table loader and the oracle-determinism decimal cast (they were
  * copy-pasted per object, so a change to the determinism contract
  * could silently apply to only some query groups; r17 review). */
// private[graft] (was private[queries]): graft.QCommonSpec, which lives
// in package graft, tests multisetEqual, parJobs and chainCorpus directly
private[graft] object QCommon {
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables.load(s, dir, name)

  /** Money-sum determinism: exact decimal(18,2) accumulation, cast to
    * double only at the end — bit-identical across engines. */
  def dec2(c: Column): Column = c.cast("decimal(18,2)")

  /** Multiset difference of two same-schema frames: rows whose
    * per-side multiplicities differ, ONE aggregation over the tagged
    * union (guide §2.4 "remove shuffles outright"). The capstone
    * parity booleans previously ran `a.exceptAll(b).count() == 0 &&
    * b.exceptAll(a).count() == 0` — TWO actions, each rewritten by
    * Catalyst into its own union+aggregate over both inputs (4 scans
    * of each side, 2 shuffles) — to decide exactly this predicate.
    * One tagged union + one hash aggregation + `isEmpty` (limit-1)
    * computes the same multiset equality with half the scans and one
    * shuffle; at 100 TB store sizes the saving is a full extra pass
    * over both stores per parity check. Null/NaN grouping semantics
    * match exceptAll's (both normalize via the aggregation path). */
  def multisetDiff(a: DataFrame, b: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, sum}
    // fail LOUDLY on schema drift (r21 ADVICE): the old exceptAll pair
    // errored on arity mismatch, but the by-name select below would
    // silently project a wider b down to a's columns and compare equal;
    // and an input already carrying a reserved helper column would
    // corrupt the tagged union
    require(a.columns.toSet == b.columns.toSet,
      s"multisetDiff: column sets differ — a=${a.columns.mkString(",")} " +
        s"vs b=${b.columns.mkString(",")}; a parity check across drifted " +
        "schemas must fail, not pass vacuously")
    require(!a.columns.contains("graft_mse_side") &&
        !a.columns.contains("graft_mse_delta"),
      "multisetDiff: inputs must not carry the reserved graft_mse_side/" +
        "graft_mse_delta helper columns")
    val cols = a.columns.toSeq
    a.withColumn("graft_mse_side", lit(1L))
      .unionByName(b.select(cols.map(col): _*)
        .withColumn("graft_mse_side", lit(-1L)))
      .groupBy(cols.map(col): _*)
      .agg(sum(col("graft_mse_side")).as("graft_mse_delta"))
      .filter(col("graft_mse_delta") =!= 0L)
  }

  /** Multiset equality in ONE job ([[multisetDiff]] + limit-1 probe) —
    * semantically identical to the two-sided exceptAll emptiness pair. */
  def multisetEqual(a: DataFrame, b: DataFrame): Boolean =
    multisetDiff(a, b).isEmpty

  /** Run INDEPENDENT Spark jobs concurrently from a small driver pool
    * (guide §2.6 "overlap independent jobs"): Spark's scheduler happily
    * runs several jobs at once inside one application — actions are
    * only sequential because driver code calls them sequentially.
    * [[bootstrapStores]] submits three same-shaped store-table writes
    * whose wall-clock is driver/job overhead, not data; overlapping
    * them collapses sum-of-jobs to max-of-jobs. ONLY for jobs with no
    * ordering contract: [[graft.llm.Curate.ingestBatch]]'s idx → sig →
    * fp append ORDER is its crash-replay correctness argument and must
    * stay sequential. Exceptions: the first failure is rethrown (its
    * cause, not the ExecutionException wrapper) after all tasks finish.
    * An interrupt of the calling thread is rethrown the same way, also
    * only after every task has finished, with the interrupt flag
    * restored.
    */
  def parJobs(tasks: (() => Unit)*): Unit = {
    if (tasks.size <= 1) { tasks.foreach(_()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    var interrupted = false
    try {
      val futs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = t()
      }))
      // collect every outcome before throwing: a half-submitted round
      // must not leave sibling writes racing the caller's error path
      val errs = futs.flatMap(f =>
        try { f.get(); None }
        catch {
          case e: java.util.concurrent.ExecutionException => Some(e.getCause)
          case e: InterruptedException => interrupted = true; Some(e)
          case e: Throwable => Some(e)
        })
      errs.headOption.foreach(throw _)
    } finally {
      // an interrupted get() returns before its task ends: wait the
      // pool out (re-waiting through further interrupts) before leaving
      pool.shutdown()
      var done = false
      while (!done)
        try done = pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
        catch { case _: InterruptedException => interrupted = true }
      if (interrupted) Thread.currentThread().interrupt()
    }
  }

  /** Copy-id base for the re-ingest fixtures (q109/q119/q126–q129):
    * `max(id) + 1`, DERIVED from the data — a hardcoded constant
    * aliases copy ids with real ids on a salted/256× id space (the r18
    * q128 review finding). ONE definition with ONE empty-corpus guard:
    * on an empty corpus `max()` is NULL and an unguarded `getLong` was
    * an opaque NPE (r19 review) — return 1L instead, preserving the
    * pre-derivation behavior (no copies exist to collide; the queries
    * emit their empty/vacuous results, matching their oracles). */
  def copyBase(df: DataFrame, idCol: String): Long = {
    import org.apache.spark.sql.functions.{col, max}
    val r = df.agg(max(col(idCol))).head()
    if (r.isNullAt(0)) 1L else r.getLong(0) + 1L
  }

  /** The ingest capstones' corpus header (q128, q129, q131), one
    * aggregation: (n_docs, n_quality_pass, copyBase). copyBase is
    * [[copyBase]]'s `max(doc_id) + 1` with the same empty-corpus guard;
    * every real id is below it, so ids at or above it are re-ingested
    * copies. */
  def ingestHeader(d: DataFrame): (Long, Long, Long) = {
    import org.apache.spark.sql.functions.{col, count, lit, max, when}
    val hdr = d.agg(count(lit(1)),
      count(when(graft.llm.Text.qualityScore(col("text")) >= 0.5, lit(1))),
      max(col("doc_id"))).head()
    (hdr.getLong(0), hdr.getLong(1),
      if (hdr.isNullAt(2)) 1L else hdr.getLong(2) + 1L)
  }

  /** Round `i`'s ingest batch (doc_id, text): the base slice
    * `doc_id % 3 == i` plus exact copies of the previous round's admits
    * `prev` (id, text) under fresh ids `id + copyBase*(i+1)`, which the
    * stores the loop just appended to must reject. */
  def roundBatch(d: DataFrame, prev: DataFrame, copyBase: Long, i: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    d.filter(pmod(col("doc_id"), lit(3)) === i)
      .unionByName(prev.select(
        (col("id") + copyBase * (i + 1)).as("doc_id"), col("text")))
  }

  /** Bootstraps durable ingest stores `{prefix}_fp`, `_sig`, `_idx`
    * (empty, bucketed into `buckets`, schemas from
    * [[graft.llm.Curate.emptyStores]]) and the manifest table
    * `{prefix}_man` holding `man`. The three store writes are
    * independent tables, so they run concurrently ([[parJobs]]). */
  def bootstrapStores(d: DataFrame, prefix: String, buckets: Int,
                      man: DataFrame): Unit = {
    val (fp0, sig0, idx0) = graft.llm.Curate.emptyStores(d, "doc_id", "text")
    parJobs(Seq((fp0, "fp", Seq("fp_a")), (sig0, "sig", Seq("id")),
        (idx0, "idx", Seq("band", "key"))).map { case (df0, t, keys) =>
      () => graft.ops.Bucketed.writeBucketed(df0, s"${prefix}_$t", keys, buckets) }: _*)
    graft.ops.Bucketed.writePlain(man, s"${prefix}_man")
  }

  /** The durable capstones' three rounds (q129, q131): round i's
    * [[roundBatch]] goes through [[graft.llm.Curate.ingestBatch]] into
    * the `{prefix}` tables ([[bootstrapStores]]; the `{prefix}_led`
    * ledger when `ledger`) and through an unindexed in-session
    * [[graft.llm.Curate.SessionStores]] twin, so the tables' indexed
    * probe is checked against an independent route; the next round's
    * copies come from the twin's checkpointed admits. Each batch is a
    * plain persist, counted BEFORE ingestBatch and not tracked:
    * ingestBatch's `finally` releases tracked frames and unpersists
    * RDDs cached during the call, which would drop a batch the twin
    * and the next round still read. Every batch is unpersisted before
    * returning, on failure too.
    *
    * @return (the last round's batch, no longer cached — a ledgered
    *         replay of it reads only the ledger; whether the table and
    *         twin admit ids are equal multisets; the sig table's row
    *         count; whether no admitted id is a re-ingested copy,
    *         id ≥ copyBase)
    */
  def durableRounds(d: DataFrame, prefix: String, buckets: Int, copyBase: Long,
                    man: DataFrame, ledger: Boolean,
                    onAdmitted: (DataFrame, Long) => Unit = (_, _) => ())
      : (DataFrame, Boolean, Long, Boolean) = {
    import org.apache.spark.sql.functions.{col, count, lit, when}
    val C = graft.llm.Curate
    var mem = C.SessionStores.empty(d, "doc_id", "text")
    var prev = d.limit(0).select(col("doc_id").as("id"), col("text"))
    val batches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      for (i <- 0 until 3) {
        val batch = roundBatch(d, prev, copyBase, i)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        batches += batch
        batch.count()
        C.ingestBatch(batch, i.toLong, "doc_id", "text", s"${prefix}_fp",
          s"${prefix}_sig", s"${prefix}_idx", buckets,
          manifestTable = Some(s"${prefix}_man"),
          ledgerTable = if (ledger) Some(s"${prefix}_led") else None,
          onAdmitted = onAdmitted)
        val (adm, next) = mem.ingest(batch, manifest = Some(man))
        mem = next
        prev = adm.select(col("id")).join(batch, col("id") === col("doc_id"))
          .select(col("id"), col("text"))
      }
    } finally batches.foreach(_.unpersist(false))
    val tblIds = d.sparkSession.table(s"${prefix}_sig").select(col("id"))
    val parity = multisetEqual(tblIds, mem.sig.select(col("id")))
    val cnts = tblIds.agg(count(lit(1)),
      count(when(col("id") >= copyBase, lit(1)))).head()
    (batches.last, parity, cnts.getLong(0), cnts.getLong(1) == 0L)
  }

  /** The q130 split-invariance fixture: a bounded ≤1500-real-doc
    * sub-corpus with ids shifted ×10 plus a planted a~b~c near-dup
    * chain (the LlmSpec sliding-window texts, J(a,b)=J(b,c)≈0.58,
    * J(a,c)≈0.31 at threshold 0.45), chain ids ≡1 (mod 10) — one per
    * id tercile so prefix splits at (t1, t2) put each member in its
    * own batch, never colliding with the ×10 real ids.
    *
    * @return (corpus NOT persisted — caller persists/tracks,
    *         t1, t2, aId, bId, cId)
    */
  def chainCorpus(s: SparkSession, dir: String)
      : (DataFrame, Long, Long, Long, Long, Long) = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val d0 = t(s, dir, "documents").filter(col("doc_id") < 1500)
      .select((col("doc_id") * 10).as("doc_id"), col("text"))
    // max over an EMPTY sub-corpus is null → an opaque NPE at getLong;
    // fail with the cause instead (a corpus whose ids all exceed the
    // fixed 1500 bound — e.g. a salted/256× id space; r19 review)
    val maxRow = d0.agg(max(col("doc_id"))).head()
    require(!maxRow.isNullAt(0),
      "chainCorpus: no documents with doc_id < 1500 — the q130 fixture's " +
        "fixed sub-corpus bound does not fit this corpus's id space")
    val maxId = maxRow.getLong(0)
    val t1 = maxId / 3; val t2 = 2 * maxId / 3
    // below ~60 the ‑9-shifted chain ids can fall outside their
    // terciles, collide, or go negative — corrupting the fixture
    // SILENTLY (the spec only pins the real-sf corpus); fail with the
    // diagnosis instead, like the empty-corpus guard above (r19 ADVICE)
    require(maxId >= 60,
      s"chainCorpus: sub-corpus max doc_id $maxId < 60 — too small to place " +
        "one planted chain member per id tercile without collisions")
    def w(from: Int, until: Int) = (from until until).map(i => s"w$i").mkString(" ")
    val aId = t1 - t1 % 10 - 9
    val bId = t2 - t2 % 10 - 9
    val cId = maxId - maxId % 10 - 9
    val chain = Seq((aId, w(1, 41)), (bId, w(11, 51)), (cId, w(21, 61)))
      .toDF("doc_id", "text")
    (d0.unionByName(chain), t1, t2, aId, bId, cId)
  }
}
