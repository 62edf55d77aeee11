package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end corpus curation: the composed training-data pipeline the
  * individual operators exist for, as one call —
  *
  *   boilerplate-sentence removal → PII scrubbing → quality scoring +
  *   threshold filter → exact dedup (min-id keeper) → per-source
  *   corpus statistics.
  *
  * Every stage is one of the oracle-checked operators
  * ([[Text.removeBoilerplate]], [[Text.scrubPii]],
  * [[Text.qualityScore]], [[Dedup.exactByFingerprint]]), so the composition carries
  * a composed SQL oracle too (q69). No stage is quadratic; the
  * pipeline's shuffles are the stages' own (sentence df-aggregation,
  * per-doc reassembly, dedup hash-agg, final stats agg) — everything
  * between them is scan-local column math.
  */
object Curate {

  def curate(docs: DataFrame, idCol: String, textCol: String,
             srcCol: String, minQuality: Double = 0.5,
             boilerMaxDf: Int = 3): DataFrame = {
    // persisted: consumed twice (dedup keeper derivation + the final
    // stats join) — without it the whole boilerplate→scrub→score chain
    // runs twice, 2× the scan cost at corpus scale. Tracked so the
    // application releases it after the consuming action (Rel scaladoc).
    val cleaned = graft.dsl.Rel.track(
      // srcCol rides THROUGH the boilerplate stage (passthrough): a
      // re-attach join would read the corpus a second time and add a
      // corpus-wide shuffle
      Text.removeBoilerplate(docs, idCol, textCol, ". ", boilerMaxDf,
          passthrough = Seq(srcCol))
        .withColumnRenamed("doc", idCol)
        .withColumn("clean", Text.scrubPii(col("clean")))
        .withColumn("quality", Text.qualityScore(col("clean")))
        .filter(col("quality") >= minQuality)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // fingerprint-keyed dedup: the shuffle carries two 8-byte hash
    // columns per row instead of the cleaned document text (the 100 TB
    // shape — group keys equal clean-text groups modulo a ≈ n²/2¹²⁸
    // double collision, so the composed SQL oracle is unchanged)
    val keepers = Dedup.exactByFingerprint(cleaned, "clean", idCol)
      .select(col("keeper_id").as(idCol))
    cleaned.join(keepers, Seq(idCol))
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(Text.tokenCountWs(col("clean"))).as("sum_tokens"),
        sum(col("quality").cast("decimal(18,4)")).cast("double").as("sum_quality"))
  }

  /** Streaming curation — the batch quality-filter + exact-dedup
    * stages as a Structured Streaming pipeline: per-row quality
    * threshold (pure column math, streaming-safe), then
    * fingerprint-keyed `dropDuplicatesWithinWatermark` so the dedup
    * state is bounded by the watermark horizon instead of corpus
    * history (the 100 TB continuous-ingest shape: the batch engine
    * curates the backfill, this curates the live feed with the SAME
    * quality/fingerprint kernels, so batch and stream agree).
    */
  def streamingCurate(stream: DataFrame, textCol: String, tsCol: String,
                      watermark: String = "1 hour",
                      minQuality: Double = 0.5): DataFrame =
    stream
      .filter(Text.qualityScore(col(textCol)) >= minQuality)
      // collision-proof internal names: a user column literally named
      // "fp" must survive untouched (graft_-prefix convention).
      // The key is exactByFingerprint's EXACT xxhash64 pair — a true
      // 128-bit-class key, AND interoperable with the batch/incremental
      // fingerprint store, so stream keys can be seeded from or
      // reconciled against the batch fpStore (the same-kernels claim)
      .withColumn("graft_curate_fp", xxhash64(col(textCol)))
      .withColumn("graft_curate_fp2", xxhash64(lit("graft-fp2"), col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("graft_curate_fp", "graft_curate_fp2")
      .drop("graft_curate_fp", "graft_curate_fp2") // schema matches input

  /** Tokenizer-aware sequence packing (q125): the
    * shape every real pretraining pipeline runs — sliding-window
    * [[Text.chunk]] → BPE-encode each chunk ([[Bpe.encode]]'s
    * codegen'd `graft_bpe_tokens` kernel, merges as a foldable plan
    * literal) → pack chunks into fixed-budget training sequences by
    * TRUE subword-token counts, not whitespace words (the q97/q100
    * packers count words; a context-length budget is spent in
    * tokenizer tokens). Packing is the same concat-and-chunk
    * discipline: chunks in (doc, chunk_id) order, a chunk lands in
    * `bin = exclusive-prefix-tokens div seqTokens`.
    *
    * Scale shape: chunking is scan-local posexplode; the encode is one
    * codegen'd kernel call per chunk (tokens never materialize — only
    * their COUNT rides on); the prefix sum is the
    * [[graft.ops.Rank.prefixSum]] 2-pass (per-partition totals +
    * map-side offsets), never a single-partition window. Null-text
    * docs are excluded up front (their chunks would have null token
    * counts — unknown content cannot be budgeted).
    *
    * @param merges learned BPE merge table ([[Bpe.train]])
    * @return (doc, chunk_id, n_words, chunk_text, n_tokens,
    *         cum_tokens inclusive, bin 0-based) per chunk.
    */
  def tokenPack(docs: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)], chunkWords: Int = 12,
                stride: Int = 8, seqTokens: Long = 256L): DataFrame = {
    require(seqTokens > 0, "seqTokens must be positive")
    // persisted: prefixSum's 2-pass evaluates its input lineage TWICE
    // (per-partition totals job + embedding job), and here that lineage
    // carries the BPE encode kernel — the single dominant cost
    // (SCALECURVE.md §q125 token-pack, 16x: encode 16.6 s of a 31.9 s
    // total, and the
    // un-persisted pipeline paid it twice). The q78 lesson does not
    // apply: what persists is counts + chunk text already materialized
    // by the explode, not an avoidable extra corpus scan.
    // PARALLELIZE THE KERNEL: the encode is the pipeline's dominant
    // compute (at sf0.01, encode 3.0 s warm of q125's ~4.2 s total, and
    // the SAME time at 8 and 32 cores: serial). Chunk rows inherit the
    // docs scan's partitioning, so a corpus arriving as few/unsplittable
    // files runs the expensive per-chunk kernel on that few cores. When the scan under-
    // partitions the session's parallelism, round-robin the chunk rows
    // first — one batch shuffle of chunk text buys a fully parallel
    // encode. Results unchanged: n_tokens is per-row, and the prefix
    // sum orders by the (doc, chunk_id) total order, not by partition.
    // At production scale the input has more splits than cores and the
    // condition is false — no shuffle is added where none is needed.
    val raw = Text.chunk(docs.filter(col(textCol).isNotNull),
      idCol, textCol, chunkWords, stride)
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val rebalanced =
      if (raw.rdd.getNumPartitions < par) raw.repartition(par) else raw
    val chunks = graft.dsl.Rel.track(
      rebalanced
        .select(col("doc"), col("chunk_id"), col("n_words"), col("chunk_text"),
          Bpe.tokenCount(col("chunk_text"), merges).as("n_tokens"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    graft.ops.Rank.prefixSum(chunks,
        Seq(col("doc"), col("chunk_id")), "n_tokens", "cum_tokens")
      .withColumn("bin", expr(s"(cum_tokens - n_tokens) div ${seqTokens}L"))
  }

  /** Incremental-ingest curation capstone (q126) — the production
    * "ingest today's batch against yesterday's corpus" shape, composing
    * the three continuous-ingest pieces end to end:
    *
    *   quality gate ([[Text.qualityScore]] ≥ minQuality; NULL text
    *   scores NULL and is dropped by the gate) →
    *   [[Dedup.exactIncremental]] vs the persisted FINGERPRINT store
    *   (within-batch exact collapse + 16-byte anti-join) →
    *   [[Dedup.lshIncremental]] vs the persisted SIGNATURE store
    *   (near-dup admit rule, store text never rescanned).
    *
    * Returns one row per ADMITTED document carrying everything both
    * stores need appended — (id, fp_a, fp_b, sig). The ingest loop
    * around it — append (fp_a, fp_b) to the fingerprint store, (id, sig)
    * and its band-index rows to the signature side, repeat next batch —
    * is [[SessionStores]] in-session and [[ingestBatch]] against durable
    * tables. Corpus-sized inputs touch only the two
    * stores (24 B and 8·numHashes B per admitted doc); everything
    * else is batch-sized — the scale contract inherited from the two
    * incremental operators unchanged.
    *
    * Plan shape: one pass, one persisted stage. The keeper's text rides
    * the exact stage's fingerprint aggregation (`carry`, a `min_by`),
    * so the near stage reads the exact stage's output directly instead
    * of re-joining the gated batch; (fp_a, fp_b) ride the near stage's
    * rep aggregation the same way, so no join back to the exact stage
    * recovers them. The reps frame is the one persist (every near-stage
    * consumer reads it); gate → fingerprint aggregation → fpStore
    * anti-join → signatures run once beneath it.
    *
    * @param fpStore  (fp_a, fp_b) rows from previous batches
    * @param sigStore (id, sig) rows from previous batches
    * @param bandIndex optional pre-built [[Dedup.lshBandIndex]] of
    *        `sigStore` — when given, the near-dedup leg runs
    *        [[Dedup.lshIncrementalIndexed]] (identical admit set, no
    *        per-batch store band derivation; at real scale keep it as
    *        a table bucketed by (band, key) and append admitted docs'
    *        index rows alongside the two store appends)
    * @param manifest optional persisted [[Dedup.lshManifest]] of the
    *        store set — validated up front (fail-loud on any scheme
    *        mismatch, including the fewer-bands index mismatch no
    *        row-local check can see); at real scale keep the one-row
    *        manifest table next to the stores and always pass it
    * @param splitInvariant opt-in batch-split-invariant admit
    *        semantics: the near-dedup leg returns EVERY surviving
    *        rep with an `admitted` boolean and the caller appends ALL
    *        returned rows' (id, sig) — and their band-index rows — to
    *        the signature store, while the FINGERPRINT store still
    *        gets `admitted` rows only (an exact copy of a non-admitted
    *        rep then passes the exact stage and is re-dropped by the
    *        near stage at estimated Jaccard 1 — same outcome, one
    *        stage later). With the store holding every seen rep, the
    *        admit set no longer depends on where batch boundaries fall
    *        in an id-ordered stream (the default chain-pessimistic
    *        rule's documented order-dependence); semantics + edges in
    *        [[Dedup.lshIncremental]]
    * @return (id, fp_a, fp_b, sig) per admitted batch doc; with
    *         `splitInvariant`, (id, fp_a, fp_b, sig, admitted) per
    *         SEEN batch rep (append sig+index rows for all, fp rows
    *         for admitted only)
    */
  def incrementalCurate(batch: DataFrame, idCol: String, textCol: String,
                        fpStore: DataFrame, sigStore: DataFrame,
                        minQuality: Double = 0.5, shingleK: Int = 3,
                        numHashes: Int = 64, bands: Int = 16,
                        threshold: Double = 0.9,
                        bandIndex: Option[DataFrame] = None,
                        manifest: Option[DataFrame] = None,
                        splitInvariant: Boolean = false): DataFrame = {
    manifest.foreach(Dedup.requireManifest(_, "incrementalCurate",
      Some(shingleK), numHashes, bands))
    val gated = batch.filter(Text.qualityScore(col(textCol)) >= minQuality)
      .select(col(idCol), col(textCol))
    val exactNew = Dedup.exactIncremental(gated, textCol, idCol, fpStore,
      carry = Seq(textCol))
    val carry = Seq("fp_a", "fp_b")
    val out = bandIndex match {
      case Some(idx) => Dedup.lshIncrementalIndexed(exactNew, "id", textCol,
        sigStore, idx, shingleK, numHashes, bands, threshold,
        splitInvariant = splitInvariant, carry = carry)
      case None => Dedup.lshIncremental(exactNew, "id", textCol, sigStore,
        shingleK, numHashes, bands, threshold,
        splitInvariant = splitInvariant, carry = carry)
    }
    if (splitInvariant)
      out.select(col("id"), col("fp_a"), col("fp_b"), col("sig"), col("admitted"))
    else
      out.select(col("id"), col("fp_a"), col("fp_b"), col("sig"))
  }

  /** ONE micro-batch of the continuous-ingest stream, against the
    * durable bucketed store TABLES — the body [[streamingIngest]] wires
    * into `foreachBatch`, public so the batch-replay form can be driven
    * (and oracled) directly: quality gate → exact dedup vs the fp table
    * → near dedup vs the sig table via the pre-built band-index table →
    * append all three stores with [[graft.ops.Bucketed.appendBucketed]]
    * (spec-validated, so the zero-Exchange co-location contract cannot
    * silently break).
    *
    * RECACHE DISCIPLINE (`ops/Bucketed.scala` appendBucketed
    * scaladoc): the admit frame's lineage reads the very
    * tables the appends mutate, and each append's catalog refresh
    * RECACHES dependent cached plans — so the frame is severed with
    * `localCheckpoint()` BEFORE the first append; `persist()` would
    * silently recompute against the half-mutated stores.
    *
    * EXACTLY-ONCE / REPLAY: `foreachBatch` re-runs a batch after a
    * crash. The optional `ledgerTable` records each COMPLETED batch id
    * (written last), so a fully-completed batch replays as a no-op —
    * exactly-once at batch granularity. Within a batch, each table
    * append is all-or-nothing (Spark's file commit protocol), so the
    * crash windows sit BETWEEN appends; the idx → sig → fp order makes
    * every window decision-equivalent on replay:
    *  - crash before the idx append: clean re-run (nothing mutated);
    *  - after idx, before sig: the re-run admits the SAME set (index
    *    candidates verify against the sig table, which has no rows for
    *    them yet) and re-derives the same idx rows — which the
    *    (band, key, id) anti-join against the idx table then removes,
    *    so NOTHING is re-appended and index ≡ lshBandIndex(sig)
    *    survives this window too (without it the replay would append
    *    duplicate band rows that break the multiset equality until a
    *    rebuild). Cost on a normal batch: one Exchange-free scan of
    *    the bucketed idx table per trigger — the fp-anti-join class;
    *  - after sig, before fp: the re-run admits nothing (est Jaccard 1
    *    vs the docs' own stored signatures), so the batch's fp rows are
    *    never appended — exact copies are then dropped one stage later
    *    by the near stage at est 1 instead of by the exact stage (the
    *    [[Dedup.lshIncremental]] splitInvariant edge-(2) semantics);
    *    admit decisions unchanged. In split-invariant mode the result
    *    frame holds every SEEN rep, not admits only, so the sig append
    *    is additionally anti-joined by id against the sig table (one
    *    id-column store scan per trigger, Exchange-free on the
    *    bucketed store side — the fp-anti-join cost class, paid as
    *    replay insurance) — without it this window would re-append a
    *    full copy of the batch's (id, sig) rows on replay; with it
    *    (and the idx-table anti-join above) the replay appends nothing
    *    and both invariants survive.
    * `onAdmitted` fires with the checkpointed result frame BEFORE any
    * append, so delivery is at-least-once in every window (a replay
    * may re-invoke it with the same or an empty frame) — the downstream
    * sink must be idempotent, e.g. keyed on (batchId, id).
    *
    * Cache hygiene for an unbounded stream: the operator-internal
    * tracked persists are released as soon as the result frame is
    * checkpointed (and again in `finally`, for the error path), and the
    * batch's own localCheckpoint blocks are swept per batch
    * (snapshot-diff of `getPersistentRDDs`, the
    * Bench discipline — localCheckpoint blocks are invisible to
    * `clearCache`/`releaseTracked`). The sweep assumes the ingest
    * pipeline OWNS its session's cache (concurrent foreign persists
    * created mid-batch would be swept); run it in its own session.
    */
  def ingestBatch(batch: DataFrame, batchId: Long, idCol: String,
                  textCol: String, fpTable: String, sigTable: String,
                  idxTable: String, buckets: Int,
                  manifestTable: Option[String] = None,
                  ledgerTable: Option[String] = None,
                  minQuality: Double = 0.5, shingleK: Int = 3,
                  numHashes: Int = 64, bands: Int = 16,
                  threshold: Double = 0.9,
                  splitInvariant: Boolean = false,
                  onAdmitted: (DataFrame, Long) => Unit = (_, _) => ()): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    def exists(t: String) = s.sessionState.catalog.tableExists(
      s.sessionState.sqlParser.parseTableIdentifier(t))
    // ledger skip: the row is written LAST, so its presence proves the
    // batch's appends ALL committed — replaying it must be a no-op. One
    // scan job whose generated code is the same for every batch: Spark
    // inlines a long literal into generated code (and numbers each
    // LIMIT's counter from a JVM-wide sequence), so a `=== batchId`
    // filter under `limit(1)` compiled fresh classes on every batch; a
    // string literal reaches the generated class by reference instead
    val alreadyDone = ledgerTable.exists(lt => exists(lt) &&
      s.table(lt).filter(col("batch_id").cast("string") === batchId.toString)
        .select(col("batch_id")).collect().nonEmpty)
    if (alreadyDone) return
    val rddsBefore = s.sparkContext.getPersistentRDDs.keySet
    try {
      val res = incrementalCurate(batch, idCol, textCol,
          s.table(fpTable), s.table(sigTable), minQuality, shingleK,
          numHashes, bands, threshold,
          bandIndex = Some(s.table(idxTable)),
          manifest = manifestTable.map(s.table),
          splitInvariant = splitInvariant)
        .localCheckpoint() // RECACHE discipline — see scaladoc
      // nothing reads the curate stage's persists past the checkpoint;
      // released now, before the appends, so no append's catalog
      // refresh re-plans a cached plan over the stores
      graft.dsl.Rel.releaseTracked(blocking = true)
      onAdmitted(res, batchId)
      val (fpRows, resSigRows) = appendRows(res)
      // Split-invariant replay idempotency: the result frame holds
      // every seen rep, so a crash-replay whose sig rows already
      // landed would re-append them all — anti-join by id against the
      // store (default mode needs none: a replay admits nothing, so
      // its sig rows are already empty). Cost, stated honestly: on a
      // NORMAL batch the anti-join removes nothing and its price is
      // one id-column scan of the sig table per trigger (no Exchange
      // on the bucketed store side) — the same cost class as the
      // fp-store anti-join every batch already pays in the exact
      // stage, bought here as replay insurance. localCheckpoint: the
      // anti-join's lineage reads the sig table this loop mutates
      // (the RECACHE rule), and the frame feeds both the idx and sig
      // appends.
      val sigRows =
        if (splitInvariant)
          resSigRows
            .join(s.table(sigTable).select(col("id")), Seq("id"), "left_anti")
            .localCheckpoint()
        else resSigRows
      // idx-append replay idempotency (the idx-before-sig crash window,
      // BOTH modes): a crash after the idx append but before the sig
      // append leaves idx rows landed with sig empty; the replay then
      // admits the SAME set (its candidates verify against the sig
      // table, which has no rows for them) and would re-append every
      // band row — duplicates that
      // break the idx ≡ lshBandIndex(sig) invariant until a rebuild.
      // Anti-join the batch's band rows against the idx table on
      // (band, key, id): on a normal batch it removes nothing and costs
      // one Exchange-free scan of the bucketed idx table per trigger
      // (the (band, key) bucketing satisfies the join's clustering —
      // the fp-anti-join cost class, paid as replay insurance); on the
      // crash replay it removes exactly the already-landed rows.
      // localCheckpoint: the anti-join reads the very table the append
      // below mutates — sever before writing (the RECACHE rule)
      val idxRows = Dedup.lshBandIndex(sigRows, numHashes, bands)
        .join(s.table(idxTable).select(col("band"), col("key"), col("id")),
          Seq("band", "key", "id"), "left_anti")
        .localCheckpoint()
      graft.ops.Bucketed.appendBucketed(
        idxRows, idxTable, Seq("band", "key"), buckets)
      graft.ops.Bucketed.appendBucketed(sigRows, sigTable, Seq("id"), buckets)
      graft.ops.Bucketed.appendBucketed(fpRows, fpTable, Seq("fp_a"), buckets)
      ledgerTable.foreach(lt => Seq(batchId).toDF("batch_id")
        .write.mode("append").format("parquet").saveAsTable(lt))
    } finally {
      // BLOCKING release + sweep: a non-blocking drain here would empty
      // the tracked queue, so an outer measurement loop's blocking
      // barrier has nothing left to wait on while the async removals
      // pile up behind the next batch (the bench_r18_run1 fixture-
      // eviction mode). The blocks are batch-sized; the barrier is
      // cheap relative to a trigger.
      graft.dsl.Rel.releaseTracked(blocking = true)
      s.sparkContext.getPersistentRDDs.foreach { case (id, r) =>
        if (!rddsBefore.contains(id)) r.unpersist(true)
      }
    }
  }

  /** Continuous streaming ingest — the [[SessionStores]] batch loop as
    * a Structured Streaming pipeline (the production shape: the batch
    * engine curates the backfill, this curates the live feed with the
    * SAME [[incrementalCurate]] kernel against the SAME durable
    * bucketed tables, so batch and stream agree by construction).
    * `readStream` → `foreachBatch`([[ingestBatch]]): each micro-batch
    * is quality-gated, exact- and near-deduped against the store
    * tables, and its rows appended under the validated bucket specs.
    *
    * Scale/state shape at 100 TB: the ONLY streaming state is the
    * source offsets in the checkpoint — dedup state lives in the
    * bucketed TABLES, not in a state store, so state never grows with
    * the corpus and a trigger can be minutes or hours without watermark
    * tuning. Trigger cadence trades per-batch overhead (three appends
    * ≥ 3 × buckets files) against admit latency; file accumulation is
    * the cost, paid down by [[graft.ops.Bucketed.compactIfNeeded]] —
    * the file-count-budget cadence (metadata-only check per call, a
    * rewrite only past the budget) — as a
    * SCHEDULED job between triggers (pause the stream or accept the
    * crash-recovery semantics in compact's scaladoc — never compact
    * concurrently with an in-flight batch, both mutate the catalog
    * entry). Crash/replay semantics are [[ingestBatch]]'s.
    *
    * Fails at WIRING time (not first batch) if any store table is
    * missing or carries the wrong bucket spec (keys/bucket count/sort
    * — the same catalog check `appendBucketed` makes, hoisted so a
    * `buckets` mismatch can't burn a full micro-batch of curate work
    * first), or the manifest scheme mismatches — bootstrap with
    * [[emptyStores]] + `Bucketed.writeBucketed` first.
    *
    * @return the configured `DataStreamWriter` — caller sets
    *         `checkpointLocation`/`trigger` and calls `start()`
    */
  def streamingIngest(stream: DataFrame, idCol: String, textCol: String,
                      fpTable: String, sigTable: String, idxTable: String,
                      buckets: Int,
                      manifestTable: Option[String] = None,
                      ledgerTable: Option[String] = None,
                      minQuality: Double = 0.5, shingleK: Int = 3,
                      numHashes: Int = 64, bands: Int = 16,
                      threshold: Double = 0.9,
                      splitInvariant: Boolean = false,
                      onAdmitted: (DataFrame, Long) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val s = stream.sparkSession
    // existence + full spec in one check per table: the appendBucketed
    // validation run NOW (catalog metadata only) instead of mid-trigger
    // after a full micro-batch of curate work
    Seq((fpTable, Seq("fp_a")), (sigTable, Seq("id")),
        (idxTable, Seq("band", "key"))).foreach { case (t, keys) =>
      graft.ops.Bucketed.requireSpec(s, t, keys, buckets, "streamingIngest")
    }
    manifestTable.foreach(mt => Dedup.requireManifest(s.table(mt),
      "streamingIngest", Some(shingleK), numHashes, bands))
    stream.writeStream.foreachBatch {
      (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        ingestBatch(b.toDF(), id, idCol, textCol, fpTable, sigTable,
          idxTable, buckets, manifestTable, ledgerTable, minQuality,
          shingleK, numHashes, bands, threshold, splitInvariant, onAdmitted)
    }
  }

  /** The append contract of [[incrementalCurate]]'s result, for every
    * store implementation: (fp rows, sig rows). Sig rows — and the
    * band-index rows derived from them — come from EVERY returned rep;
    * fp rows from admitted rows only. A split-invariant result carries
    * an `admitted` column and holds every seen rep; a default-mode
    * result holds admits only.
    */
  private def appendRows(res: DataFrame): (DataFrame, DataFrame) = {
    val admitted =
      if (res.columns.contains("admitted")) res.filter(col("admitted")) else res
    (admitted.select(col("fp_a"), col("fp_b")), res.select(col("id"), col("sig")))
  }

  /** In-session dedup state for a batch loop — the in-memory
    * counterpart of the durable tables [[ingestBatch]] appends to. Each
    * store is a lazy union of per-batch deltas over checkpointed result
    * frames. The scheme (`shingleK`, `numHashes`, `bands`) is fixed when
    * the value is built ([[SessionStores.empty]]), so the curate call
    * and the band-index deltas cannot disagree.
    *
    * Lineage: [[incrementalCurate]] self-joins its store inputs, so an
    * un-cut plan grows multiplicatively per batch (`persist()` does not
    * cut the logical plan). Each [[ingest]] step `localCheckpoint`s its
    * result — the in-session stand-in for a table boundary — so every
    * delta is a flat RDD scan and plans stay linear in batches, without
    * rewriting the accumulated stores per batch.
    *
    * @param idx the band index of `sig`; when present, the near stage
    *        probes it ([[Dedup.lshIncrementalIndexed]]) and every step
    *        appends the new sig rows' band rows to it
    */
  final class SessionStores private (val fp: DataFrame, val sig: DataFrame,
      val idx: Option[DataFrame], idCol: String, textCol: String,
      shingleK: Int, numHashes: Int, bands: Int) {

    /** Curates `batch` against these stores.
      * @return the checkpointed [[incrementalCurate]] result, and the
      *         stores with its rows appended under [[appendRows]]
      */
    def ingest(batch: DataFrame, threshold: Double = 0.9,
               manifest: Option[DataFrame] = None,
               splitInvariant: Boolean = false): (DataFrame, SessionStores) = {
      val res = incrementalCurate(batch, idCol, textCol, fp, sig,
          shingleK = shingleK, numHashes = numHashes, bands = bands,
          threshold = threshold, bandIndex = idx, manifest = manifest,
          splitInvariant = splitInvariant)
        .localCheckpoint()
      val (fpRows, sigRows) = appendRows(res)
      (res, new SessionStores(fp.unionByName(fpRows), sig.unionByName(sigRows),
        idx.map(_.unionByName(Dedup.lshBandIndex(sigRows, numHashes, bands))),
        idCol, textCol, shingleK, numHashes, bands))
    }
  }

  object SessionStores {
    /** Empty stores ([[emptyStores]]) for `docs`' id and text columns;
      * `indexed` keeps a band index beside the sig store. */
    def empty(docs: DataFrame, idCol: String, textCol: String,
              shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
              indexed: Boolean = false): SessionStores = {
      val (fp0, sig0, idx0) = emptyStores(docs, idCol, textCol, shingleK,
        numHashes, bands)
      new SessionStores(fp0, sig0, if (indexed) Some(idx0) else None,
        idCol, textCol, shingleK, numHashes, bands)
    }
  }

  /** EMPTY (fpStore, sigStore, bandIndex) frames for bootstrapping an
    * ingest loop from nothing — derived THROUGH the operators' own
    * expressions from `docs.limit(0)`, so the store schemas can never
    * drift from what [[incrementalCurate]] appends (hand-typed `toDF`
    * schemas would). [[SessionStores.empty]] starts its in-session
    * stores from them as they are (empty relations, nothing to
    * checkpoint); durable stores `writeBucketed` them as tables.
    */
  def emptyStores(docs: DataFrame, idCol: String, textCol: String,
                  shingleK: Int = 3, numHashes: Int = 64,
                  bands: Int = 16): (DataFrame, DataFrame, DataFrame) = {
    val d0 = docs.select(col(idCol), col(textCol)).limit(0)
    val fp0 = d0.select(xxhash64(col(textCol)).as("fp_a"),
      xxhash64(lit("graft-fp2"), col(textCol)).as("fp_b"))
    val sig0 = Dedup.minhashSignatures(d0, idCol, textCol, shingleK, numHashes)
    val idx0 = Dedup.lshBandIndex(sig0, numHashes, bands)
    (fp0, sig0, idx0)
  }

  /** The sequence-preparation capstone (the other half of the curation
    * story): quality-filter → sliding-window [[Text.chunk]] → pack the
    * chunk stream into fixed-token training sequences (the
    * [[graft.ops.Rank.prefixSum]] 2-pass, ordered by (doc, chunk_id))
    * → per-sequence stats. Deterministic end-to-end, composed SQL
    * oracle (q100); no single-partition window anywhere.
    *
    * @return (bin, n_chunks, n_tokens, n_docs) per training sequence.
    */
  def prepSequences(docs: DataFrame, idCol: String, textCol: String,
                    minQuality: Double = 0.5, chunkWords: Int = 12,
                    stride: Int = 8, seqTokens: Long = 256L): DataFrame = {
    val kept = docs.filter(Text.qualityScore(col(textCol)) >= minQuality)
    val chunks = Text.chunk(kept, idCol, textCol, chunkWords, stride)
      .select(col("doc"), col("chunk_id"), col("n_words"))
    val cum = graft.ops.Rank.prefixSum(chunks,
      Seq(col("doc"), col("chunk_id")), "n_words", "cum_tokens")
    cum.withColumn("bin", expr(s"(cum_tokens - n_words) div ${seqTokens}L"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_words")).as("n_tokens"),
        countDistinct(col("doc")).as("n_docs"))
  }
}
