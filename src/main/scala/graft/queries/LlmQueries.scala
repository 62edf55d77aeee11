package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.{Bpe, Dedup, Multimodal, Retrieval, Similarity, Text}

/** Training-data-pipeline t2 queries: dedup family, similarity search,
  * text analysis, multimodal plumbing. Oracles are plain SQL
  * re-derivations of the same deterministic math (integer hashes and
  * fixed-order float folds), so hash-compare is exact.
  */
object LlmQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Shared ANN property harness (q42/q92/q93 — the q26 pattern):
    * WHICH neighbors an approximate index returns is
    * approximation-dependent, so the emitted row states the result's
    * deterministic PROPERTIES — every query got exactly k
    * strictly-ranked rows, rank-ordered by cosine (one aggregation job
    * carries all per-query checks; groups are k rows so the collected
    * array is trivially bounded), and every returned cosine equals the
    * exact cosine recomputed from the embeddings by id. The
    * exactness filter uses null-safe <=>: a plain =!= evaluates to
    * NULL (row silently dropped) when either side is null, so a null
    * cosine from a zero vector would count as "exact". ONE definition
    * for all three ANN queries — the r14 full-repo review flagged the
    * triplicated scaffold as drift-prone.
    */
  private def annShapeCheck(s: SparkSession, v: org.apache.spark.sql.DataFrame,
                            res0: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val res = graft.dsl.Rel.track(
      res0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nQueries = v.filter(col("vec_id") < 10).count()
    val byRk = sort_array(collect_list(struct(col("rk"), col("cosine"))))
    val ordered = forall(
      zip_with(slice(byRk, 1, k - 1), slice(byRk, 2, k - 1),
        (a, b) => a.getField("cosine") >= b.getField("cosine")),
      x => x)
    // cosine exactness FUSED into the same per-query aggregation (r22:
    // was its own count action over a second join of the cached res) —
    // the vector joins are 1:1 on unique ids drawn from v, so the
    // groups (and every other aggregate) are unchanged
    val emb = v.select(col("vec_id"), col("embedding"))
    val perQ = res
      .join(emb.toDF("query_id", "qv"), "query_id")
      .join(emb.toDF("neighbor_id", "cv"), "neighbor_id")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n"), min(col("rk")).as("mn"),
        max(col("rk")).as("mx"), countDistinct(col("rk")).as("nd"),
        coalesce(ordered, lit(false)).as("ord"), // null-safe for malformed groups
        count(when(!(Similarity.cosineExpr(col("qv"), col("cv"))
          <=> col("cosine")), lit(1))).as("bad"))
      .collect()
    val kRowsEach = perQ.length.toLong == nQueries &&
      perQ.forall(r => r.getLong(1) == k && r.getInt(2) == 1 &&
        r.getInt(3) == k && r.getLong(4) == k)
    val rkOrdered = perQ.forall(_.getBoolean(5))
    val cosineExact = perQ.forall(_.getLong(6) == 0L)
    Seq((nQueries, kRowsEach, rkOrdered, cosineExact))
      .toDF("n_queries", "k_rows_each", "rk_ordered", "cosine_exact")
  }

  import QCommon.t

  /** documents ∪ mutated copies (first 3 words dropped, id+1e6, every
    * 10th doc) — a corpus with guaranteed near-duplicates at every sf,
    * derived identically in the oracle.
    */
  private def derivedDocs(d: DataFrame): DataFrame = {
    val mutated = d.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), 4, 1000000)).as("text"))
    d.select(col("doc_id"), col("text")).union(mutated)
  }

  private val derivedDocsSql =
    """SELECT doc_id, text FROM documents
       UNION ALL
       SELECT doc_id + 1000000 AS doc_id,
              array_to_string(string_split(text, ' ')[4:], ' ') AS text
       FROM documents WHERE doc_id % 10 = 0"""

  /** 3-word shingle rows (doc_id, s) in SQL, mirroring Dedup.shingles. */
  private def shingleRowsSql(docsExpr: String) =
    s"""SELECT doc_id, UNNEST(list_distinct(
          CASE WHEN len(w) >= 3
               THEN list_transform(range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
               ELSE [text] END)) AS s
        FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM ($docsExpr))"""

  /** Deterministic hyperplane literal for the SQL oracle — the same
    * integer formula (and [[graft.plans.SignLshF.PlaneStride]]) as
    * [[Similarity.planeComponent]]. */
  private def planeLit(j: Int): String = (0 until 64).map { i =>
    val m = ((j.toLong * graft.plans.SignLshF.PlaneStride + i) * 2654435761L) % 1000003L
    ((m % 2001L - 1000L).toDouble / 1000.0).toString
  }.mkString("[", ", ", "]")

  private def bucketSql(planes: Int, offset: Int = 0): String =
    (0 until planes).map { j =>
      s"(CASE WHEN list_dot_product(e, ${planeLit(offset + j)}) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  val queries: Map[String, Q] = Map(

    // exact dedup: per-text keeper + copy count
    "q30_dedup_exact" -> ((s, dir) => {
      Dedup.exact(t(s, dir, "documents"), Seq("text"), "doc_id")
        .select(col("keeper_id"), col("n_copies"))
        .orderBy(col("keeper_id"))
    }),

    // MinHash+LSH near-dup pairs, exact-Jaccard verified (r=2, b=32 →
    // recall ≈ 1 for J ≥ 0.6, so the exhaustive oracle matches)
    "q31_dedup_minhash" -> ((s, dir) => {
      Dedup.minhashLsh(derivedDocs(t(s, dir, "documents")), "doc_id", "text",
          shingleK = 3, numHashes = 64, bands = 32, threshold = 0.6)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SimHash fingerprints. WHAT the 64 bits are is xxhash64-dependent
    // (no SQL re-derivation), so — the q26/q42 property-oracle pattern —
    // the emitted row is the result's deterministic PROPERTIES, all
    // computed Spark-side as lazy single-row aggregations (no collect):
    //   n_docs            — one fingerprint per document,
    //   all_dup_copy_equal — an exact-duplicate copy (id+1e6, same text)
    //                        fingerprints identically (fp depends on the
    //                        text alone, not id or partition placement),
    //   all_order_invariant — word-reversed text fingerprints identically
    //                        (simhash is a distinct-token SET statistic;
    //                        the per-bit sum commutes),
    //   all_dupword_invariant — appending an already-present token
    //                        changes nothing (distinct-set semantics),
    //   colform_subset_equal — the interpreted Column form reproduces the
    //                        JVM kernel bit-for-bit on every 25th doc
    //                        (bounded: the HOF form is CodegenFallback).
    // The oracle states each property as a constant plus COUNT(*).
    "q32_simhash" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      // null text is degraded to "" ONCE here, so every downstream path
      // (flags kernel, simhashFingerprints, dupFp, the Column form) sees
      // the same non-null text — the end-to-end job is null-safe without
      // per-path defenses (ADVICE r9)
      val src = t(s, dir, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      val flagSchema = StructType(Seq(
        StructField("ord_inv", BooleanType), StructField("dupw_inv", BooleanType)))
      val flags = s.createDataFrame(
        src.select(col("text")).rdd.mapPartitions(_.map { r =>
          val text = r.getString(0)
          val fp = Dedup.simhashK(text)
          val words = text.split(" ", -1)
          Row(fp == Dedup.simhashK(words.reverse.mkString(" ")),
            fp == Dedup.simhashK(text + " " + words(0)))
        }), flagSchema)
        // coalesce: min over zero rows is NULL, but on an empty corpus
        // every universal property is vacuously TRUE (the oracle states
        // constants, so a NULL here would be a spurious mismatch)
        .agg(count(lit(1)).as("n_docs"),
          coalesce(min(col("ord_inv")), lit(true)).as("all_order_invariant"),
          coalesce(min(col("dupw_inv")), lit(true)).as("all_dupword_invariant"))
      val fp0 = Dedup.simhashFingerprints(src, "doc_id", "text")
      val dupFp = Dedup.simhashFingerprints(
        src.select((col("doc_id") + 1000000L).as("doc_id"), col("text")),
        "doc_id", "text")
      // cardinality is part of the property: the dup-equal/colform
      // checks are min() over inner joins, which would stay vacuously
      // TRUE if the fingerprint pipeline silently dropped rows — so the
      // emitted row also asserts fp-row count == document count
      val fpCount = fp0.agg(count(lit(1)).as("n_fp"))
      val dupEqual = fp0
        .join(dupFp.select((col("doc") - 1000000L).as("doc"), col("fp").as("fp2")), "doc")
        .agg(coalesce(min(col("fp") === col("fp2")), lit(true)).as("all_dup_copy_equal"))
      val sub = src.filter(pmod(col("doc_id"), lit(25)) === 0)
      val colform = Dedup.simhashFingerprints(sub, "doc_id", "text")
        .join(sub.select(col("doc_id").as("doc"),
          Dedup.simhash(col("text")).as("cfp")), "doc")
        .agg(coalesce(min(col("fp") === col("cfp")), lit(true)).as("colform_subset_equal"))
      flags.crossJoin(fpCount).crossJoin(dupEqual).crossJoin(colform)
        .select(col("n_docs"),
          (col("n_fp") === col("n_docs")).as("fp_rows_match"),
          col("all_dup_copy_equal"),
          col("all_order_invariant"), col("all_dupword_invariant"),
          col("colform_subset_equal"))
    }),

    // exhaustive n-gram Jaccard within a blocking key (prefix-filtered
    // candidate generation — recall 1 at the threshold, so identical to
    // the exhaustive oracle)
    "q33_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccard(derivedDocs(t(s, dir, "documents"))
          .withColumn("blk", pmod(col("doc_id"), lit(20))),
          "doc_id", "text", "blk", k = 3, minJaccard = 0.3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // brute-force cosine top-k (the ANN exactness baseline)
    "q34_cosine_topk" -> ((s, dir) => {
      val v = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(v.filter(col("vec_id") < 10), v,
          "vec_id", "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rk"))
    }),

    // heuristic language ID (marker-token argmax)
    "q35_lang_id" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
          Text.langIdHeuristic(col("text")).as("lang_pred"),
          size(filter(split(col("text"), " "),
            w => w === "the" || w === "a" || w === "of" || w === "and"))
            .cast("long").as("n_en_markers"))
        .orderBy(col("doc_id"))
    }),

    // quality scoring (ttr / word-length / length-prior blend)
    "q36_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
          Text.qualityScore(col("text")).as("quality"),
          Text.stopwordRatio(col("text")).as("stopword_ratio"))
        .orderBy(col("doc_id"))
    }),

    // token counting (whitespace + BPE-ish regex) per source
    "q37_token_counts" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.groupBy(col("source"))
        .agg(sum(Text.tokenCountWs(col("text"))).as("sum_ws_tokens"),
          sum(Text.tokenCountRegex(col("text"))).as("sum_re_tokens"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"))
    }),

    // document fingerprinting (rolling polynomial hash)
    "q38_fingerprint" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // LSH-bucketed ANN top-k (deterministic hyperplanes)
    "q39_ann_lsh" -> ((s, dir) => {
      val v = t(s, dir, "embeddings")
      Similarity.lshTopK(v.filter(col("vec_id") < 10), v,
          "vec_id", "vec_id", "embedding", k = 5, planes = 6)
        .orderBy(col("query_id"), col("rk"))
    }),

    // multi-table (OR-of-ANDs) ANN top-k: the recall knob
    // oracle-checked on the TOP-K path too (q79 covers near-dup) —
    // 3 disjoint hyperplane families at planes = 8, candidates from a
    // bucket match in ANY table, deduplicated before exact scoring.
    // Oracle re-derives all three tables' buckets in SQL.
    "q80_ann_multitable" -> ((s, dir) => {
      val v = t(s, dir, "embeddings")
      Similarity.lshTopK(v.filter(col("vec_id") < 10), v,
          "vec_id", "vec_id", "embedding", k = 5, planes = 8, tables = 3)
        .orderBy(col("query_id"), col("rk"))
    }),

    // near-dup CLUSTERING: connected components over q31's pair graph
    // (pairs chain: A≈B, B≈C ⇒ one cluster even if (A,C) was never
    // emitted) + min-id keeper — the step a real dedup pipeline runs
    // after pair generation. Oracle: recursive-CTE transitive closure
    // over the same exhaustively-derived pair set.
    "q77_dedup_clusters" -> ((s, dir) => {
      val docs = derivedDocs(t(s, dir, "documents"))
      val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
        shingleK = 3, numHashes = 64, bands = 32, threshold = 0.6)
      Dedup.components(pairs)
        .withColumnRenamed("doc", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // deterministic token-budget sampling: per-source cap on cumulative
    // tokens in fingerprint order — reproducible sampling any SQL
    // engine can re-derive row-for-row (no RNG)
    "q78_token_budget" -> ((s, dir) => {
      Text.sampleByTokenBudget(t(s, dir, "documents"),
          "doc_id", "text", "source", budgetTokens = 2000L)
        .withColumnRenamed("doc", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // weighted mixture sampling: even-numbered sources get 3× the
    // token quota of odd ones, 6000-token total — deterministic
    // (fingerprint-ordered, RNG-free), re-derivable in SQL
    "q88_mixture" -> ((s, dir) => {
      val weights = (0 until 20)
        .map(i => s"src$i" -> (if (i % 2 == 0) 3.0 else 1.0)).toMap
      val docs = t(s, dir, "documents")
      // the oracle's CASE formula covers ANY srcN while the map covers
      // exactly src0..19 — fail loudly if a fixture ever grows a 21st
      // source instead of silently dropping its rows (r14 review)
      val unknown = docs.select(col("source")).distinct()
        .filter(!col("source").isin(weights.keys.toSeq: _*)).count()
      require(unknown == 0L, s"q88: $unknown sources outside the weight map")
      Text.sampleByMixture(docs,
          "doc_id", "text", "source", totalTokens = 6000L, weights)
        .withColumnRenamed("doc", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // quality-stratified subsample: equal-count quality deciles from a
    // deterministic global rank, keep rate (stratum+1)/strata by id mod
    "q90_stratified_sample" -> ((s, dir) => {
      Text.sampleByQualityStrata(t(s, dir, "documents"),
          "doc_id", "text", strata = 10)
        .orderBy(col("doc_id"))
    }),

    // incremental exact dedup: batch = odd docs + duplicated copies of
    // the even docs; store = the even docs' fingerprints. The copies
    // MUST be eliminated by the store anti-join, within-batch dups by
    // the keeper aggregation — both SQL-derivable on the text itself
    // (the operator's 128-bit fingerprints equal text-grouping modulo
    // a ≈ n²/2¹²⁸ collision). Output is the surviving new-doc id set.
    "q109_incremental_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val storeDocs = d.filter(pmod(col("doc_id"), lit(2)) === 0)
      val store = storeDocs.select(
        xxhash64(col("text")).as("fp_a"),
        xxhash64(lit("graft-fp2"), col("text")).as("fp_b"))
      // copy-id base derived from the data, never 1000000L (q119's
      // rationale); the oracle derives the same MAX(doc_id)+1, so the
      // two batch constructions stay in lockstep on any id space
      val copyBase = QCommon.copyBase(d, "doc_id")
      val batch = d.filter(pmod(col("doc_id"), lit(2)) === 1)
        .unionByName(storeDocs.select(
          (col("doc_id") + copyBase).as("doc_id"), col("text")))
      Dedup.exactIncremental(batch, "text", "doc_id", store)
        .select(col("id"))
        .orderBy(col("id"))
    }),

    // incremental MinHash-LSH NEAR-dedup vs a persisted signature
    // store — the near-dup twin of q109's continuous-ingest shape:
    // store = even docs' signatures, batch = odd docs + re-ingested
    // even docs. The admit set is hash-dependent (signature-estimated
    // Jaccard; no SQL re-derivation), so — the q111 invariants
    // pattern — the row states: every re-ingested exact copy was
    // dropped, no admitted doc's text exists in the store, no two
    // admitted docs share a text, admitted ⊆ batch. n_batch is
    // SQL-derivable.
    "q119_incremental_lsh" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val storeDocs = d.filter(pmod(col("doc_id"), lit(2)) === 0)
      // copy-id base DERIVED from the data (the q128 rule,
      // r19 queries deep-dive): a hardcoded 1000000L base aliases copy
      // ids with real ids on a salted/256× corpus (doc_id ≥ 1e6), and
      // the re-ingest invariant below would then miscount a REAL admit
      // as a re-ingested copy. Real ids are always < copyBase.
      val copyBase = QCommon.copyBase(d, "doc_id")
      // lshIncremental's contract: the store MUST be materialized (two
      // store-side consumers; exchange reuse of a derived lineage is
      // plan luck — the r17 curve bimodality finding)
      val store = graft.dsl.Rel.track(
        graft.llm.Dedup.minhashSignatures(storeDocs, "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val batch = graft.dsl.Rel.track(
        d.filter(pmod(col("doc_id"), lit(2)) === 1)
          .unionByName(storeDocs.select(
            (col("doc_id") + copyBase).as("doc_id"), col("text")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val nBatch = batch.count()
      // ONE persisted frame serves the invariants (the q126 r21 shape):
      // kept rows LEFT-joined to the batch and marker-joined to the
      // store's distinct texts — three booleans ride one aggregation
      // (was four separate count actions + joins)
      val kept = graft.dsl.Rel.track(
        graft.llm.Dedup.lshIncremental(batch, "doc_id", "text", store)
          .join(batch, col("id") === col("doc_id"), "left")
          .join(storeDocs.select(col("text").as("graft_store_text")).distinct(),
            col("text") === col("graft_store_text"), "left")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val inBatch = col("doc_id").isNotNull
      val b = kept.agg(
        count(when(col("id") >= copyBase, lit(1))),
        count(when(inBatch && col("graft_store_text").isNotNull, lit(1))),
        count(when(!inBatch, lit(1)))).head()
      val noReingested = b.getLong(0) == 0L
      val noStoreExact = b.getLong(1) == 0L
      val subset = b.getLong(2) == 0L
      // no-two-kept-share-text via a group count (one shuffle instead
      // of a join); text.isNotNull makes it STRICTLY identical to the
      // old pair self-join — groupBy groups NULL texts together where
      // the x.text === y.text join never matched them (r21 ADVICE;
      // null texts are fixture-impossible, the filter is free)
      val noWithinExact = kept.filter(inBatch && col("text").isNotNull)
        .groupBy(col("text")).count()
        .filter(col("count") > 1).isEmpty
      Seq((nBatch, noReingested, noStoreExact, noWithinExact, subset))
        .toDF("n_batch", "no_reingested_kept", "no_kept_exact_in_store",
          "no_kept_exact_within", "kept_subset_of_batch")
    }),

    // global sentence-level exact dedup (C4/Dolma line dedup): every
    // distinct sentence keeps only its first corpus-wide occurrence
    // (min (doc, pos)), documents reassembled in order — SQL-derivable
    // end to end (the oracle partitions by the sentence STRING where
    // the operator groups by its 64-bit hash; identical modulo a
    // ≈ n²/2⁶⁵ collision)
    "q107_sentence_dedup" -> ((s, dir) => {
      Dedup.sentenceDedup(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("doc", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // exact duplicated-span dedup (Lee et al. 2022 ExactSubstr,
    // bucketed form): every non-first occurrence of a corpus-duplicated
    // 8-token window is excised, docs reassembled in order —
    // SQL-derivable end to end (the oracle keys grams by STRING where
    // the operator ships the 64-bit positional gram hash; identical
    // modulo ≈ n²/2⁶⁵ collisions)
    "q115_span_dedup" -> ((s, dir) => {
      Dedup.spanDedup(t(s, dir, "documents"), "doc_id", "text", k = 8)
        .withColumnRenamed("doc", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // model-based quality filtering (Joulin 2016 fastText lineage; the
    // DCLM/FineWeb-Edu classifier gate): hashed-feature logistic
    // regression trained full-batch — per iteration ONE model-sized
    // gradient aggregation — then codegen'd scoring. The r17 recipe is
    // train/apply, never train-on-everything: the model fits q112's
    // deterministic "train" split and is evaluated HELD-OUT on "val"
    // (the r16 advice: train-set accuracy asserts memorization, not
    // generalization). Weights are hash-dependent (no SQL
    // re-derivation), so — the q111/q116 invariants pattern — the row
    // states: the zero model starts at the ln-2 chance loss (provable:
    // softplus(0) = ln 2 per doc), training reduced it, and val-split
    // accuracy is at least the val majority-class base rate. The label
    // (docs containing the token 'spark') and its counts are
    // SQL-derivable.
    "q118_quality_classifier" -> ((s, dir) => {
      import s.implicits._
      val labeled = graft.dsl.Rel.track(
        graft.llm.Text.assignSplit(
            t(s, dir, "documents").filter(col("text").isNotNull), "doc_id")
          .select(col("doc_id"), col("text"), col("split"),
            array_contains(split(col("text"), " "), "spark")
              .cast("int").as("label"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // corpus + val-split scalars in ONE pass over the persisted
      // labeled frame (was four separate count actions). A/B'd r22
      // (VERDICT r21 #8, OPTIMIZATION_r22.md §8): FLAT — five runs put
      // both forms in overlapping 3.75–4.6 s bands; q118's floor is
      // the 8 GD jobs + the score join, not the header. The one-pass
      // form stays for its 100 TB shape (one cache scan, not four).
      val lh = labeled.agg(count(lit(1)),
        count(when(col("label") === 1, lit(1))),
        count(when(col("split") === "val", lit(1))),
        count(when(col("split") === "val" && col("label") === 1, lit(1)))).head()
      val n = lh.getLong(0)
      val nPos = lh.getLong(1)
      val nVal = lh.getLong(2)
      val nValPos = lh.getLong(3)
      val m = graft.llm.Classifier.trainLogReg(
        labeled.filter(col("split") === "train"),
        "doc_id", "text", "label", dim = 512, iters = 8)
      val valSet = labeled.filter(col("split") === "val")
      val correct = graft.llm.Classifier.score(valSet, "doc_id", "text", m)
        .join(valSet.select(col("doc_id").as("doc"), col("label")), "doc")
        .filter((col("score") >= 0.5) === (col("label") === 1)).count()
      val valBase = math.max(nValPos, nVal - nValPos)
      Seq((n, nPos,
        math.abs(m.lossTrace.head - math.log(2.0)) < 1e-9,
        m.lossTrace.last < m.lossTrace.head,
        correct >= valBase))
        .toDF("n_docs", "n_pos", "chance_loss_start", "loss_decreased",
          "val_accuracy_ge_base")
    }),

    // subword (BPE) vocabulary training + encode (Sennrich 2016): the
    // merge sequence is deterministic ((count desc, pair asc) total
    // order) but not SQL-expressible, so — the q112 invariants
    // pattern — the emitted row states: training is reproducible, the
    // distributed codegen'd encode matches a driver re-encode
    // token-for-token on a fingerprint-selected sample, decode∘encode
    // is byte-exact on that sample, and every multi-char token in the
    // WHOLE encoded corpus is a learned merge product (char fallback
    // is the only OOV path). n_docs is SQL-derivable.
    "q116_bpe" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val nMerges = 200
      val merges = Bpe.train(d, "text", numMerges = nMerges)
      val deterministic = merges == Bpe.train(d, "text", numMerges = nMerges)
      val enc = graft.dsl.Rel.track(
        Bpe.encode(d, "doc_id", "text", merges)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val nDocs = enc.count()
      val ranks = Bpe.ranksOf(merges)
      // sample is BOUNDED (64 lowest-fingerprint members of the mod
      // class) — an unbounded 1/20 of the corpus would be a
      // corpus-proportional driver collect, violating the model-sized
      // rule; null text is excluded (the driver re-encode would NPE,
      // and the kernel yields null tokens there by design)
      val joined = enc
        .join(d.select(col("doc_id").as("doc"), col("text")), Seq("doc"))
        .filter(col("text").isNotNull)
        .withColumn("fp", Text.fingerprint(col("text"))) // computed ONCE
      def take(df0: org.apache.spark.sql.DataFrame, n: Int) = df0
        .orderBy(col("fp"), col("doc"))
        .select(col("text"), col("tokens"), col("n_tokens"))
        .limit(n).collect()
      val picked = take(joined.filter(pmod(col("fp"), lit(20)) === 0), 64)
      // a corpus can (p ≈ (19/20)^n) have no fingerprint ≡ 0 (mod 20):
      // fall back to the 8 lowest-fingerprint docs — still deterministic
      // and text-dependent
      val sample = if (picked.nonEmpty) picked else take(joined, 8)
      // an EMPTY sample means no eligible (non-null-text) docs exist at
      // all — the checks are then vacuously true, the q112 pattern
      // (an empty corpus must not read as a correctness failure)
      val sampleOk = sample.forall { r =>
        val toks = Bpe.encodeText(r.getString(0), ranks)
        r.getSeq[String](1) == toks.toSeq && r.getLong(2) == toks.length.toLong
      }
      val roundtrip = sample.forall { r =>
        Bpe.decode(r.getSeq[String](1)) == r.getString(0)
      }
      val inventory = merges.map { case (a, b) => a + b }
      val badMulti = enc.select(explode(col("tokens")).as("tk"))
        .filter(length(col("tk")) > 1 && col("tk") =!= Bpe.EndOfWord)
        .filter(if (inventory.isEmpty) lit(true)
                else !col("tk").isInCollection(inventory))
        .count()
      Seq((nDocs, nMerges, merges.length <= nMerges, deterministic,
          sampleOk, roundtrip, badMulti == 0L))
        .toDF("n_docs", "n_merges_requested", "merges_within_request",
          "merges_deterministic", "sample_encode_matches",
          "roundtrip_byte_exact", "all_multi_char_learned")
    }),

    // vocabulary construction with cumulative coverage / OOV rate —
    // deterministic total order (cnt desc, word asc), roundCompat'd
    // coverage, fully SQL-derivable
    "q108_vocab" -> ((s, dir) => {
      Text.vocabulary(t(s, dir, "documents"), "text", size = 100)
        .orderBy(col("rank"))
    }),

    // line-level quality signals (FineWeb/RefinedWeb lineage): pure
    // per-row array math, fully SQL-derivable — hard oracle
    "q114_line_signals" -> ((s, dir) => {
      Text.lineSignals(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // deterministic train/val/test split: label choice is
    // hash-dependent (no SQL xxhash64), so — the q26 pattern — the
    // emitted row states the invariants: total (SQL-derivable), every
    // row labeled from the declared set, per-split sizes within ±6σ
    // binomial bounds, and the assignment is idempotent (re-running
    // yields identical labels)
    "q112_split_assign" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val res = graft.dsl.Rel.track(
        Text.assignSplit(d, "doc_id")
          .select(col("doc_id"), col("split"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val n = d.count()
      val sizes = res.groupBy(col("split")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // ONE definition: validate against the operator's own defaults
      val weights = Text.DefaultSplits.toMap
      val allLabeled = sizes.keySet.subsetOf(weights.keySet) &&
        sizes.values.sum == n
      val inBounds = weights.forall { case (k, w) =>
        val c = sizes.getOrElse(k, 0L).toDouble
        math.abs(c - n * w) <= 6 * math.sqrt(n * w * (1 - w))
      }
      val rerun = Text.assignSplit(d, "doc_id")
        .select(col("doc_id"), col("split").as("split2"))
      val idempotent = res.join(rerun, "doc_id")
        .filter(col("split") =!= col("split2")).count() == 0L
      Seq((n, allLabeled, inBounds, idempotent))
        .toDF("n_total", "all_labeled", "sizes_in_bounds", "idempotent")
    }),

    // Misra–Gries heavy-hitters sketch over corpus words — the 100 TB
    // twin of q108's exact vocabulary (bounded buffer per map task,
    // partial/final like any algebraic agg). WHICH estimates come out
    // depends on partition order, so — the q26/q42 properties
    // pattern — the emitted row states the sketch's INVARIANT
    // guarantees, each computed against the exact counts: size ≤
    // capacity, no overestimate, underestimate ≤ N/(cap+1), and every
    // word with true freq > N/(cap+1) reported. N is SQL-derivable.
    "q111_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val cap = 64
      val words = graft.dsl.Rel.track(
        t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("k"))
          .filter(col("k") =!= "")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val n = words.count()
      val bound = n / (cap + 1)
      val got = words.agg(graft.ops.HeavyHitters.heavyHitters(cap)(col("k")).as("hh"))
        .selectExpr("explode(hh) AS e").select(col("e._1").as("k"), col("e._2").as("est"))
      val exact = words.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      // reported size + both error bounds in ONE aggregation over the
      // joined estimates (was a persist + three separate counts)
      val jr = got.join(exact, Seq("k")).agg(count(lit(1)),
        count(when(col("est") > col("cnt"), lit(1))),
        count(when(col("cnt") - col("est") > bound, lit(1)))).head()
      val nReported = jr.getLong(0)
      val noOver = jr.getLong(1) == 0L
      val errOk = jr.getLong(2) == 0L
      val missingHeavy = exact.filter(col("cnt") > bound)
        .join(got.select(col("k")), Seq("k"), "left_anti").count()
      Seq((n, nReported <= cap, noOver, errOk, missingHeavy == 0L))
        .toDF("n_words", "size_within_capacity", "no_overestimate",
          "error_within_bound", "all_heavy_reported")
    }),

    // Count-Min frequency sketch (Cormode 2005): the point-frequency
    // twin of q111's Misra-Gries — a fixed 4×2048 counter grid built in
    // ONE map-side-partial aggregation, persisted as array<bigint>,
    // estimates by codegen'd xxhash64 lookups. The probed top-20 words
    // and their exact counts are SQL-derivable; the sketch guarantees
    // (never undercount, overcount ≤ 3N/width) ride as booleans — the
    // q111 invariants pattern.
    "q117_count_min" -> ((s, dir) => {
      import s.implicits._
      val (depth, width) = (4, 2048)
      val words = graft.dsl.Rel.track(
        t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("k"))
          .filter(col("k") =!= "")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val n = words.count()
      val bound = 3L * n / width
      val sk = graft.ops.CountMin.sketch(words, col("k"), depth, width)
      val top = words.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("k")).limit(20)
      top.crossJoin(broadcast(sk))
        .select(col("k").as("word"), col("cnt"),
          (graft.ops.CountMin.estimate(col("cm"), col("k"), depth, width)
            >= col("cnt")).as("est_ge_exact"),
          (graft.ops.CountMin.estimate(col("cm"), col("k"), depth, width)
            <= col("cnt") + lit(bound)).as("est_within_bound"))
        .orderBy(col("cnt").desc, col("word"))
    }),

    // sort-free approximate quality-stratification (the 100 TB twin of
    // q90: percentile_approx boundaries, no global sort). Stratum
    // placement is sketch-dependent (no SQL re-derivation), so — the
    // q26/q42 properties pattern — the emitted row states the
    // deterministic invariants: corpus size (SQL-derivable), the keep
    // rule holds exactly, strata are order-consistent with quality
    // (max of stratum s ≤ min of s+1), ids in range (VERDICT r13
    // task 8)
    "q106_strata_approx" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val res = graft.dsl.Rel.track(
        Text.qualityStrataApprox(docs, "doc_id", "text", strata = 10)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val nTotal = docs.count()
      val props = res.agg(
        count(lit(1)).as("n_kept"),
        coalesce(min(pmod(col("doc_id"), lit(10)) < col("stratum") + 1), lit(true))
          .as("keep_rule"),
        coalesce(min(col("stratum") >= 0 && col("stratum") <= 9), lit(true))
          .as("in_range")).head()
      // order consistency: per-stratum (min, max) quality bands must not
      // interleave — stratum is a monotone function of quality
      val bands = res.groupBy(col("stratum"))
        .agg(min(col("quality")).as("mn"), max(col("quality")).as("mx"))
        .orderBy(col("stratum")).collect()
      val ordered = bands.sliding(2).forall {
        case Array(a, b) => a.getDouble(2) <= b.getDouble(1)
        case _ => true
      }
      Seq((nTotal, props.getLong(0) > 0L, props.getBoolean(1),
          props.getBoolean(2), ordered))
        .toDF("n_total", "any_kept", "keep_rule_ok", "strata_in_range",
          "strata_ordered")
    }),

    // mergeable HLL distinct sketches: per-source vocabulary estimate
    // checked against the exact distinct count (q42 properties pattern —
    // the estimate itself is approximation-dependent, its 5%-band
    // membership and the exact count are the oracle-stable outputs)
    "q91_sketch_distinct" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
      val approx = graft.ops.Sketches.approxDistinct(toks, Seq("source"), "word")
      val exact = toks.groupBy(col("source"))
        .agg(countDistinct(col("word")).as("exact_vocab"))
      exact.join(approx, "source")
        .select(col("source"), col("exact_vocab"),
          (abs(col("approx_nd") - col("exact_vocab"))
            <= col("exact_vocab").cast("double") * 0.05).as("sketch_within_5pct"))
        .orderBy(col("source"))
    }),

    // IVF ANN with a k-means coarse quantizer. WHICH neighbors the probe
    // returns is approximation-dependent (no SQL re-derivation), so the
    // emitted shape is the result's deterministic PROPERTIES instead —
    // the q26 pattern: every query got exactly k strictly-ranked rows
    // with cosine non-increasing in rank, and every returned cosine
    // equals the exact cosine recomputed from the embeddings table
    // (joined back by id, same codegen'd graft_dot fold) — all
    // oracle-checkable as constants plus COUNT(*).
    // PQ/ADC ANN with exact re-rank (16 bytes/vector codes, 16×
    // compression at d=64): same properties pattern as q42 — WHICH
    // neighbors the shortlist keeps is approximation-dependent, but
    // the exact re-rank makes every returned cosine recomputable, and
    // row/rank-shape invariants are oracle constants. Parameters
    // (m=16, cw=16, rerank=8) carry measured recall 0.88–0.94 vs
    // brute force (SCALECURVE.md §Round 13 session-3 addendum; PqSpec
    // pins the floor).
    "q92_pq_topk" -> ((s, dir) => {
      val v = t(s, dir, "embeddings")
      annShapeCheck(s, v,
        Similarity.pqTopK(v.filter(col("vec_id") < 10), v,
          "vec_id", "vec_id", "embedding", k = 5,
          m = 16, codewords = 16, rerank = 8), k = 5)
    }),

    // IVFPQ: coarse cells + residual PQ + cell-pruned ADC shortlist +
    // exact re-rank — same properties pattern; recall 0.88 at nprobe=4
    // scanning ~25% of the compressed lists (SCALECURVE.md §Round 13
    // session-3 addendum)
    "q93_ivfpq_topk" -> ((s, dir) => {
      val v = t(s, dir, "embeddings")
      annShapeCheck(s, v,
        Similarity.ivfPqTopK(v.filter(col("vec_id") < 10), v,
          "vec_id", "vec_id", "embedding", k = 5,
          nCells = 16, nprobe = 4, m = 16, codewords = 16, rerank = 8), k = 5)
    }),

    // SemDeDup: k-means cells → within-cell cosine pairs → connected
    // components → min-id keeper. WHICH docs pair up depends on the
    // trained cells (no SQL re-derivation), so the q42 properties
    // pattern applies: the SQL-derivable total plus structural
    // invariants re-checked exactly from the emitted labels and raw
    // vectors, emitted as booleans the oracle states as constants.
    "q98_semdedup" -> ((s, dir) => {
      import s.implicits._
      val v = t(s, dir, "embeddings")
      val res = graft.dsl.Rel.track(
        Dedup.semDedup(v, "vec_id", "embedding", nCells = 16, threshold = 0.4)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // ONE per-component aggregation answers total rows, removed
      // count, keeper-is-min, exactly-one-keeper AND never-spans-cells
      // (was four separate actions over the same persisted frame).
      // A/B'd r22 (VERDICT r21 #8): FLAT at sf0.1 — 2.72 vs 2.71 s
      // back-to-back; kept for the 100 TB shape (one pass, not four).
      val comp = res.groupBy(col("component"))
        .agg(count(lit(1)).as("n"),
          count(when(!col("is_keeper"), lit(1))).as("nr"),
          min(col("id")).as("mn"),
          sum(when(col("is_keeper"), 1L).otherwise(0L)).as("nk"),
          countDistinct(col("cell")).as("nc"))
        .agg(coalesce(sum(col("n")), lit(0L)),
          coalesce(sum(col("nr")), lit(0L)),
          count(when(col("mn") =!= col("component") || col("nk") =!= 1L, lit(1))),
          count(when(col("nc") > 1, lit(1)))).head()
      val nTotal = comp.getLong(0)
      val nRemoved = comp.getLong(1)
      val compOk = comp.getLong(2) == 0L
      val cellOk = comp.getLong(3) == 0L
      // every removed doc really has a same-cell partner at exact
      // cosine ≥ τ, recomputed from the raw vectors
      val emb = v.select(col("vec_id").as("id"), col("embedding"))
      val removed = res.filter(!col("is_keeper")).select(col("id"), col("cell"))
        .join(emb, "id")
      val members = res.select(col("id").as("oid"), col("cell"))
        .join(emb.toDF("oid", "ov"), "oid")
      val partnered = removed.join(members, "cell")
        .filter(col("id") =!= col("oid") &&
          Similarity.cosineExpr(col("embedding"), col("ov")) >= 0.4)
        .select(col("id")).distinct().count()
      Seq((nTotal, nRemoved > 0, partnered == nRemoved, compOk, cellOk))
        .toDF("n_total", "any_removed", "removed_have_partner",
          "keeper_is_min", "components_within_cell")
    }),

    "q42_ann_ivf" -> ((s, dir) => {
      val v = t(s, dir, "embeddings")
      annShapeCheck(s, v,
        Similarity.ivfKmeansTopK(v.filter(col("vec_id") < 10), v,
          "vec_id", "vec_id", "embedding", k = 5, nCells = 16, nprobe = 3), k = 5)
    }),

    // multimodal: pack as valid binary PPM → batched REAL decode (header
    // parse → dims, pixel-byte histogram); the oracle reconstructs the
    // payload byte-for-byte in SQL and re-derives every feature
    "q40_multimodal" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Multimodal.extractFeatures(Multimodal.packPpm(d, "doc_id", "text"))
        .withColumn("histogram",
          array_join(col("histogram").cast("array<string>"), ","))
        .orderBy(col("media_id"))
    }),

    // the AUDIO member of the multimodal registry (r14): pack as a
    // valid PCM WAV (real little-endian RIFF written JVM-side) →
    // extractAudioFeatures PARSES the binary header back; the oracle
    // re-derives every parameter from LENGTH(text) (byte length ==
    // char length on the ASCII corpus — the q40 caveat), so equality
    // proves the writer+parser round trip
    "q113_audio_features" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Multimodal.extractAudioFeatures(Multimodal.packWav(d, "doc_id", "text"))
        .orderBy(col("media_id"))
    }),

    // multimodal registry with TWO real decoders + the fallback in one
    // pipeline: docs split 3 ways into PPM (P6, 3-channel), PGM (P5,
    // 1-channel), and raw UTF-8 (unrecognized → byte stats, 0x0 dims).
    // The oracle re-derives each branch's payload and features in SQL.
    "q81_multimodal_mixed" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val ppm = Multimodal.packPpm(
        d.filter(pmod(col("doc_id"), lit(3)) === 0), "doc_id", "text")
      val pgm = Multimodal.packPgm(
        d.filter(pmod(col("doc_id"), lit(3)) === 1), "doc_id", "text")
      val raw = Multimodal.pack(
        d.filter(pmod(col("doc_id"), lit(3)) === 2), "doc_id", "text",
        kind = "text", format = "utf8")
      Multimodal.extractFeatures(ppm.unionByName(pgm).unionByName(raw))
        .withColumn("histogram",
          array_join(col("histogram").cast("array<string>"), ","))
        .orderBy(col("media_id"))
    }),

    // multimodal: frame sampling over binary payloads
    "q41_frame_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Multimodal.sampleFrames(Multimodal.pack(d, "doc_id", "text"),
          frameBytes = 256, everyN = 4)
        .select(col("media_id"), col("frame_idx"),
          octet_length(col("frame")).as("frame_len"))
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // composed training-data pipeline: quality filter -> exact dedup ->
    // per-source corpus stats (operators chaining end-to-end)
    "q49_pipeline" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // persisted: scored feeds both the keeper derivation and the stats
      // join (same double-consumption as Curate.curate — one scan, not two)
      val scored = graft.dsl.Rel.track(
        d.withColumn("quality", Text.qualityScore(col("text")))
          .filter(col("quality") >= 0.5)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // fingerprint-keyed dedup: the shuffle carries two 8-byte hash
      // columns per row, never the document text (VERDICT r8 item 2) —
      // groups equal text groups modulo a ≈ n²/2¹²⁸ double collision,
      // so the text-grouping SQL oracle still matches
      val keepers = Dedup.exactByFingerprint(scored, "text", "doc_id")
        .select(col("keeper_id").as("doc_id"))
      scored.join(keepers, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(Text.tokenCountWs(col("text"))).as("sum_tokens"),
          sum(col("quality").cast("decimal(18,4)")).cast("double").as("sum_quality"))
        .orderBy(col("source"))
    }),

    // embedding near-dup via shared LSH bucket + cosine threshold
    "q43_embed_neardup" -> ((s, dir) => {
      Dedup.embeddingNearDup(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.4, planes = 8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // multi-table (OR-of-ANDs) embedding near-dup: 3 tables × 8 planes,
    // disjoint hyperplane families — the recall knob that lets `planes`
    // grow with the corpus (bounded buckets) without losing near pairs.
    // The integer plane formula is SQL-reproducible, so the oracle
    // re-derives all three tables' buckets and the exact cosine.
    "q79_embed_multiprobe" -> ((s, dir) => {
      Dedup.embeddingNearDup(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.4, planes = 8, tables = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // dedup stress: corpus salted with exact-duplicate clusters (11
    // copies each) LARGER than the LSH bucket cap (8) — exact-dup
    // collapse keeps the result identical to the exhaustive oracle
    // while the cap bounds the quadratic candidate join
    "q56_dedup_stress" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val copies = base.filter(pmod(col("doc_id"), lit(25)) === 0)
        .crossJoin(s.range(1, 11).toDF("c"))
        .select((col("doc_id") + col("c") * lit(1000000L)).as("doc_id"),
          col("text"))
      Dedup.minhashLsh(base.union(copies), "doc_id", "text",
          shingleK = 3, numHashes = 64, bands = 32, threshold = 0.9,
          maxBucket = 8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // TF-IDF: the classic two-aggregation pipeline (tf per doc, df per
    // term, log-idf join) — deterministic double math via roundCompat
    "q55_tfidf" -> ((s, dir) => {
      Text.tfidf(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc"), col("term"))
    }),

    // Gopher-style quality-rule signals (repetition + composition)
    "q58_quality_rules" -> ((s, dir) => {
      Text.qualityRules(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Gopher duplicate-n-gram repetition signals: top-2gram char share,
    // dup-5gram / dup-10gram duplicated-char fractions (first occurrence
    // excluded, clamped to 1.0) — one explode for all three n
    "q84_repetition" -> ((s, dir) => {
      Text.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // lexical diversity: type-token ratio + word-distribution entropy
    // (decimal-summed c·ln c terms → bit-exact under any partitioning)
    "q89_lexical_diversity" -> ((s, dir) => {
      Text.lexicalDiversity(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // DSIR-style importance weights: per-doc unigram log-ratio of a
    // target model (source = 'src0', the high-quality stand-in) vs the
    // raw corpus model, Laplace α=0.5 over the raw vocabulary —
    // decimal-summed terms → exact oracle
    "q94_dsir_weights" -> ((s, dir) => {
      Text.importanceWeights(t(s, dir, "documents"), "doc_id", "text",
          targetPred = col("source") === "src0")
        .withColumnRenamed("doc", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // sliding-window chunking: 12-word windows advancing by 8, with an
    // anchored full-window tail — the pre-tokenization splitter
    "q95_chunk" -> ((s, dir) => {
      Text.chunk(t(s, dir, "documents"), "doc_id", "text",
          chunkWords = 12, stride = 8)
        .withColumnRenamed("doc", "doc_id")
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // sequence packing: concat-and-chunk bin assignment over the
    // doc_id-ordered corpus, 512-token training sequences — distributed
    // prefix sum (POCounter 2-pass shape), no single-partition window
    "q97_pack" -> ((s, dir) => {
      Text.packSequences(t(s, dir, "documents"), "doc_id", "text",
          seqTokens = 512L)
        .withColumnRenamed("doc", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // deterministic k-per-group sample: 5 docs per source by
    // (fingerprint, id) rank — RNG-free, row-for-row SQL-re-derivable
    "q103_group_sample" -> ((s, dir) => {
      Text.samplePerGroup(t(s, dir, "documents"), "doc_id", "text",
          "source", k = 5)
        .withColumnRenamed("grp", "source")
        .orderBy(col("source"), col("rk"))
    }),

    // the sequence-preparation capstone: quality filter → sliding
    // chunking → pack into 256-token training sequences (2-pass prefix
    // sum) → per-sequence stats, all composed from oracle-checked ops
    "q100_prep_pipeline" -> ((s, dir) => {
      graft.llm.Curate.prepSequences(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("bin"))
    }),

    // the composed curation capstone: boilerplate removal → PII scrub →
    // quality filter → exact dedup → per-source stats, one call
    "q69_curate" -> ((s, dir) => {
      graft.llm.Curate.curate(t(s, dir, "documents"), "doc_id", "text", "source")
        .orderBy(col("source"))
    }),

    // perplexity-style unigram log-prob quality score under the
    // corpus's own distribution (decimal-summed terms → exact oracle)
    "q68_unigram_logprob" -> ((s, dir) => {
      Text.unigramLogProb(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("doc", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // bigram-LM quality score with unigram backoff (the CCNet-lineage
    // perplexity filter one step up from q68) — decimal-summed terms
    "q99_bigram_logprob" -> ((s, dir) => {
      Text.bigramLogProb(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("doc", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // one-pass per-document analysis record (the standard pre-filter
    // stats bundle) + winnowing-style shingle fingerprint
    "q67_text_analyze" -> ((s, dir) => {
      // ONE scan: shingle_fp rides analyze's own projection (the
      // "one-pass analysis record" must actually be one pass — the
      // old form re-scanned documents and joined back by doc_id)
      Text.analyze(t(s, dir, "documents"), "doc_id", "text",
          extras = Seq("shingle_fp" -> (tc => Text.shingleFingerprint(tc, 5))))
        .orderBy(col("doc_id"))
    }),

    // decontamination: benchmark = 12-word excerpts of every 25th doc;
    // the excerpted docs must surface with exactly their excerpt's
    // 8-gram count, nothing else overlaps
    "q66_decontaminate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val bench = d.filter(pmod(col("doc_id"), lit(25)) === 0)
        .select(concat_ws(" ", slice(split(col("text"), " "), 1, 12)).as("excerpt"))
      Dedup.contamination(d, "doc_id", "text", bench, "excerpt", k = 8)
        .withColumnRenamed("doc", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // C4-style boilerplate removal: every doc salted with a shared
    // sentence (df = corpus size, way over the threshold) — the salt
    // must vanish, the original text survive, order preserved
    "q65_boilerplate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val salted = d.select(col("doc_id"),
        concat(lit("subscribe to our newsletter. "), col("text"),
          lit(". all rights reserved")).as("text"))
      Text.removeBoilerplate(salted, "doc_id", "text", ". ", maxDocFreq = 3)
        .withColumnRenamed("doc", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // PII scrubbing: docs salted with synthetic email/phone/IP derived
    // from doc_id (so every row exercises all three patterns), scrubbed
    // with the regexp_replace chain — oracle replays the same salt and
    // patterns
    "q64_pii_scrub" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val salted = concat(col("text"),
        lit(" contact u"), col("doc_id"), lit("@example.com or +1 555-000-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" at 10.0."), (col("doc_id") % 256), lit(".7"))
      d.select(col("doc_id"), Text.scrubPii(salted).as("clean"))
        .orderBy(col("doc_id"))
    }),

    // KLL-style mergeable quantile sketch (the sketch-family quantile
    // slot next to q91 HLL / q111 MG / q117 CMS): per-group sketches
    // built over l_extendedprice, re-merged WITHOUT raw data to a
    // global sketch, φ-estimates read back in pure column math.
    // Estimates are sketch-dependent (no SQL re-derivation) so — the
    // q26/q117 properties pattern — the emitted rows state the
    // deterministic invariants: weight conservation is EXACT
    // (Σ items·2^l == corpus rows) and every φ-estimate's true corpus
    // rank lies within the deterministic worst-case band ±0.05·n
    // (k=800 ⇒ 2·levels/k < 0.05 beyond 150M rows)
    "q120_quantile_sketch" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val n = li.count()
      val eps = 0.05
      val perGroup = graft.ops.QuantileSketch.sketchBy(
        li, Seq("l_returnflag"), col("l_extendedprice"))
      val global = graft.ops.QuantileSketch.mergeSketches(perGroup, Seq.empty)
      val phis = Seq(0.01, 0.25, 0.50, 0.75, 0.99)
      // sort the sketch ONCE, fold once per φ — inlining 5 independent
      // quantile() trees into this projection costs 5.1 s at sf0.1
      // (BENCH_NOTES §Round 16, the optimizer/codegen blowup
      // documented on QuantileSketch.weightedItems)
      val est = global.select(
          graft.ops.QuantileSketch.totalWeight(col("kll")).as("tw"),
          graft.ops.QuantileSketch.weightedItems(col("kll")).as("items"))
        .select(col("tw"), col("items"),
          explode(array(phis.map(lit): _*)).as("phi"))
        .select(col("phi"),
          graft.ops.QuantileSketch.quantileAt(
            col("items"), col("tw"), col("phi")).as("est"),
          col("tw"))
      li.select(col("l_extendedprice").as("v"))
        .crossJoin(broadcast(est))
        .groupBy(col("phi"), col("est"), col("tw"))
        .agg(
          sum(when(col("v") <= col("est"), 1L).otherwise(0L)).as("rank_le"),
          sum(when(col("v") < col("est"), 1L).otherwise(0L)).as("rank_lt"))
        .select(
          col("phi"),
          lit(n).as("n"),
          (col("tw") === lit(n)).as("weight_exact"),
          (!isnan(col("est")) &&
            col("rank_le") >= (col("phi") - lit(eps)) * lit(n) &&
            col("rank_lt") <= (col("phi") + lit(eps)) * lit(n)).as("within_bound"))
        .orderBy(col("phi"))
    }),

    // BM25 ranked retrieval (Robertson & Zaragoza 2009): a fixed 4-query
    // workload scored against the corpus, top-10 per query via the
    // bounded TopKAgg. Scores are integer NANOS (per-term floor-round,
    // exact long sum) so the hash compare against DuckDB's re-derivation
    // is exact and partition-order-free
    "q121_bm25" -> ((s, dir) => {
      import s.implicits._
      val workload = Seq(
        (1, "table"), (1, "scan"), (1, "filter"),
        (2, "group"), (2, "agg"), (2, "value"),
        (3, "join"), (3, "key"), (3, "hash"),
        (4, "stream"), (4, "window"), (4, "batch")).toDF("qid", "term")
      Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
          workload, k = 10)
        .orderBy(col("qid"), col("rank"))
    }),

    // Efraimidis–Spirakis weighted sampling without replacement
    // (k=50, weight = n_chars): WHICH docs are drawn depends on the
    // hash draw, so — the q26/q123 properties pattern — the emitted
    // row states the deterministic invariants: exactly k distinct
    // rows, all from the corpus with their true weights, and the
    // selection is EXACTLY the k largest A-ES keys (threshold proof
    // against the full candidate set, same esKey definition)
    "q123_weighted_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val k = 50
      val sel = graft.dsl.Rel.track(
        Text.weightedSample(docs, "doc_id", "n_chars", k)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val a = sel.agg(count(lit(1)).as("n_selected"),
        countDistinct(col("doc")).as("n_distinct"),
        min(col("key")).as("thresh"))
      val b = sel.join(docs,
          sel("doc") === docs("doc_id") &&
            sel("weight") === docs("n_chars").cast("double"))
        .agg(count(lit(1)).as("n_matched"))
      val c = docs.filter(col("n_chars") > 0)
        .select(Text.esKey(col("doc_id"), col("n_chars"), 42L).as("ck"))
        .crossJoin(broadcast(a.select(col("thresh"))))
        .agg(sum(when(col("ck") > col("thresh"), 1L).otherwise(0L)).as("n_above"),
          sum(when(col("ck") >= col("thresh"), 1L).otherwise(0L)).as("n_atleast"))
      a.crossJoin(b).crossJoin(c)
        .select(lit(k).as("k"), col("n_selected"), col("n_distinct"),
          (col("n_matched") === k).as("subset_weights_ok"),
          (col("n_above") <= k - 1 && col("n_atleast") >= k).as("topk_ok"))
    }),

    // Unicode canonicalization (graft_normalize: NFKC + lowercase +
    // accent-strip + whitespace-collapse): every doc salted with
    // mixed case, Latin accents and whitespace runs (the q64/q65 salt
    // pattern — the raw corpus is already clean ASCII), normalized by
    // the native kernel; the oracle replays lower+strip_accents+
    // regexp-collapse, which agrees exactly on this character class
    "q124_normalize" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val salted = concat(lit("  Fast-Track CAFÉ\t"), col("text"),
        lit("  Déjà  Vu,  Naïve ÜBER!  "))
      d.select(col("doc_id"), Text.normalize(salted).as("norm"),
          Text.fingerprint(Text.normalize(salted)).as("norm_fp"))
        .orderBy(col("doc_id"))
    }),

    // tokenizer-aware sequence packing (the r17 capstone): sliding
    // chunking → BPE encode (true subword counts, codegen kernel) →
    // pack to a 256-token budget via the 2-pass prefix sum. Token
    // counts are merge-table-dependent (no SQL re-derivation), so —
    // the q116/q100 hybrid — the row carries the SQL-derivable chunk
    // inventory (n_docs, n_chunks: the q95 chunk-count formula) plus
    // the invariants: a bounded driver re-encode matches the kernel's
    // counts token-for-token, the distributed prefix sum equals a
    // windowed recompute (verification-only global window, the q120
    // in-query-oracle pattern), every bin's exclusive-prefix span sits
    // inside its budget window, and every chunk has at least as many
    // subword tokens as words (each word is ≥ 1 token — the check
    // that packing really counts TOKENS, not whitespace words)
    "q125_token_pack" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val seqT = 256L
      val merges = Bpe.train(d, "text", numMerges = 200)
      val packed = graft.dsl.Rel.track(
        graft.llm.Curate.tokenPack(d, "doc_id", "text", merges,
            chunkWords = 12, stride = 8, seqTokens = seqT)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // chunk count + the tokens≥words bound in ONE aggregation pass —
      // but NOT countDistinct (r21 regression, VERDICT r21 item 1):
      // mixing distinct and non-distinct aggregates plans as a
      // two-phase Expand (input rows duplicated per aggregate group),
      // and this is the FIRST action — the one that materializes the
      // expensive BPE-encode cache — so the Expand rode the whole
      // tokenPack computation. The distinct doc count runs as its own
      // job over the then-cached frame (single distinct aggregate: a
      // plain two-phase partial/final, no Expand).
      val ph = packed.agg(count(lit(1)),
        count(when(col("n_tokens") < col("n_words"), lit(1)))).head()
      val nChunks = ph.getLong(0)
      val tokensGeWords = ph.getLong(1) == 0L
      val nDocs = packed.agg(countDistinct(col("doc"))).head().getLong(0)
      // prefix-sum verification WITHOUT the one-partition global window
      // (VERDICT r21 item 1 — the old Window.orderBy(doc, chunk_id)
      // with no partitionBy was a guaranteed single-task OOM at scale):
      // the global order sorts docs contiguously, so global-cum(row) =
      // exclusive-prefix(doc totals, by doc) + within-doc-cum(row).
      // Within-doc cumsums ride a PARTITIONED window; the doc offsets
      // come from Rank.prefixSum over the doc-total aggregate (the
      // scalable 2-pass stitch — per-partition totals + driver offsets,
      // partition-count-sized driver state). Boolean identical: both
      // sides are exact integer recomputes of the same prefix sum.
      val wd = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc")).orderBy(col("chunk_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val docTotals = packed.groupBy(col("doc"))
        .agg(sum(col("n_tokens")).as("graft_dt"))
      val docOffsets = graft.ops.Rank.prefixSum(docTotals,
          Seq(col("doc")), "graft_dt", "graft_cum_dt")
        .select(col("doc"),
          (col("graft_cum_dt") - col("graft_dt")).as("graft_doc_off"))
      val prefixExact = packed
        .withColumn("graft_cum_in_doc", sum(col("n_tokens")).over(wd))
        .join(docOffsets, Seq("doc"))
        .filter(col("graft_doc_off") + col("graft_cum_in_doc")
          =!= col("cum_tokens")).isEmpty
      val binsInWindow = packed
        .groupBy(col("bin"))
        .agg(min(col("cum_tokens") - col("n_tokens")).as("lo"),
          max(col("cum_tokens") - col("n_tokens")).as("hi"))
        .filter(col("lo") < col("bin") * seqT ||
          col("hi") >= (col("bin") + 1) * seqT).count() == 0L
      val ranks = Bpe.ranksOf(merges)
      val sample = packed
        .withColumn("fp", Text.fingerprint(col("chunk_text")))
        .orderBy(col("fp"), col("doc"), col("chunk_id"))
        .select(col("chunk_text"), col("n_tokens")).limit(32).collect()
      val sampleOk = sample.forall(r =>
        Bpe.encodeText(r.getString(0), ranks).length.toLong == r.getLong(1))
      Seq((nDocs, nChunks, sampleOk, prefixExact, binsInWindow, tokensGeWords))
        .toDF("n_docs", "n_chunks", "sample_encode_matches",
          "prefix_sum_exact", "bins_in_window", "tokens_ge_words")
    }),

    // incremental-ingest curation capstone (r17): ONE call composing
    // the quality gate, the q109 fingerprint-store exact anti-join and
    // the q119 signature-store near-dedup — the production "ingest
    // today's batch against yesterday's corpus" loop. Stores = even
    // docs; batch = odd docs + re-ingested evens. The admit set is
    // hash-dependent (LSH) → the q119 invariants pattern: SQL-derivable
    // batch/gate counts + Spark-checked booleans the oracle states.
    "q126_incremental_curate" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val evens = graft.dsl.Rel.track(
        d.filter(pmod(col("doc_id"), lit(2)) === 0)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val fpStore = evens.select(
        xxhash64(col("text")).as("fp_a"),
        xxhash64(lit("graft-fp2"), col("text")).as("fp_b"))
      // lshIncremental's contract: the store MUST be materialized (two
      // store-side consumers read it; reuse of a derived lineage's
      // exchange is plan luck — the r17 q119-curve bimodality finding)
      val sigStore = graft.dsl.Rel.track(
        Dedup.minhashSignatures(evens, "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // copy-id base derived from the data, never 1000000L (q119's
      // rationale — the salted/256× id-space alias)
      val copyBase = QCommon.copyBase(d, "doc_id")
      val batch = graft.dsl.Rel.track(
        d.filter(pmod(col("doc_id"), lit(2)) === 1)
          .unionByName(evens.select(
            (col("doc_id") + copyBase).as("doc_id"), col("text")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val q = Text.qualityScore(col("text"))
      // batch scalars in ONE pass (was two counts)
      val bh = batch.agg(count(lit(1)), count(when(q >= 0.5, lit(1)))).head()
      val nBatch = bh.getLong(0)
      val nQualityPass = bh.getLong(1)
      // ONE persisted frame serves every invariant: admits LEFT-joined
      // to the batch (text re-attach; a null doc_id marks a non-subset
      // admit) and LEFT-joined to the store's DISTINCT texts (a non-null
      // marker = an exact store copy) — then five of the six booleans
      // ride one aggregation (was five separate count actions + joins)
      val admFull = graft.dsl.Rel.track(
        graft.llm.Curate.incrementalCurate(
            batch, "doc_id", "text", fpStore, sigStore)
          .join(batch, col("id") === col("doc_id"), "left")
          .join(evens.select(col("text").as("graft_store_text")).distinct(),
            col("text") === col("graft_store_text"), "left")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val inBatch = col("doc_id").isNotNull
      val b = admFull.agg(
        count(when(col("id") >= copyBase, lit(1))),
        count(when(inBatch && col("graft_store_text").isNotNull, lit(1))),
        count(when(inBatch && (q.isNull || q < 0.5), lit(1))),
        count(when(col("fp_a").isNull || col("fp_b").isNull ||
          col("sig").isNull || size(col("sig")) =!= 64, lit(1))),
        count(when(!inBatch, lit(1)))).head()
      val noReingested = b.getLong(0) == 0L
      val noStoreExact = b.getLong(1) == 0L
      val allPassQuality = b.getLong(2) == 0L
      val appendComplete = b.getLong(3) == 0L
      val subset = b.getLong(4) == 0L
      // text.isNotNull: strictly identical to the old pair self-join,
      // which never matched NULL texts (r21 ADVICE; fixture-impossible)
      val noWithinExact = admFull.filter(inBatch && col("text").isNotNull)
        .groupBy(col("text")).count()
        .filter(col("count") > 1).isEmpty
      Seq((nBatch, nQualityPass, noReingested, noStoreExact, noWithinExact,
          allPassQuality, appendComplete, subset))
        .toDF("n_batch", "n_quality_pass", "no_reingested_kept",
          "no_kept_exact_in_store", "no_kept_exact_within",
          "all_kept_pass_quality", "append_rows_complete",
          "kept_subset_of_batch")
    }),

    // the q119 ingest via the TRUE-scale path (r17): a pre-built
    // exploded (id, band, key) band INDEX replaces the per-batch
    // store-side band derivation (persist it bucketed by (band, key)
    // at real scale — zero-Exchange store aggregation, BucketedSpec).
    // Oracle = the q119 invariant booleans + the decisive one: the
    // indexed admit set EQUALS the signature-derivation path's.
    "q127_incremental_lsh_indexed" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val storeDocs = d.filter(pmod(col("doc_id"), lit(2)) === 0)
      val store = graft.dsl.Rel.track(
        graft.llm.Dedup.minhashSignatures(storeDocs, "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val idx = graft.dsl.Rel.track(
        graft.llm.Dedup.lshBandIndex(store)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // copy-id base derived from the data, never 1000000L (q119's
      // rationale — the salted/256× id-space alias)
      val copyBase = QCommon.copyBase(d, "doc_id")
      val batch = graft.dsl.Rel.track(
        d.filter(pmod(col("doc_id"), lit(2)) === 1)
          .unionByName(storeDocs.select(
            (col("doc_id") + copyBase).as("doc_id"), col("text")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val nBatch = batch.count()
      // ONE persisted frame serves the invariants (the q126 r21 shape):
      // kept rows LEFT-joined to the batch and marker-joined to the
      // store's distinct texts — three of the four booleans ride one
      // aggregation (was four separate count actions + joins)
      val kept = graft.dsl.Rel.track(
        graft.llm.Dedup.lshIncrementalIndexed(batch, "doc_id", "text",
            store, idx)
          .join(batch, col("id") === col("doc_id"), "left")
          .join(storeDocs.select(col("text").as("graft_store_text")).distinct(),
            col("text") === col("graft_store_text"), "left")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val inBatch = col("doc_id").isNotNull
      val b = kept.agg(
        count(when(col("id") >= copyBase, lit(1))),
        count(when(inBatch && col("graft_store_text").isNotNull, lit(1))),
        count(when(!inBatch, lit(1)))).head()
      val noReingested = b.getLong(0) == 0L
      val noStoreExact = b.getLong(1) == 0L
      val subset = b.getLong(2) == 0L
      // no-two-kept-share-text via a group count (one shuffle instead
      // of a join); text.isNotNull makes it STRICTLY identical to the
      // old pair self-join — groupBy groups NULL texts together where
      // the x.text === y.text join never matched them (r21 ADVICE;
      // null texts are fixture-impossible, the filter is free)
      val noWithinExact = kept.filter(inBatch && col("text").isNotNull)
        .groupBy(col("text")).count()
        .filter(col("count") > 1).isEmpty
      // indexed path ≡ signature-derivation path: ONE tagged-union
      // aggregation — the old two-sided exceptAll pair evaluated the
      // whole un-persisted viaSig derivation TWICE (the heaviest
      // verification in the suite); this runs it once
      val viaSig = graft.llm.Dedup.lshIncremental(batch, "doc_id", "text", store)
        .select(col("id"))
      val sameAsSig = QCommon.multisetEqual(kept.select(col("id")), viaSig)
      Seq((nBatch, noReingested, noStoreExact, noWithinExact, subset, sameAsSig))
        .toDF("n_batch", "no_reingested_kept", "no_kept_exact_in_store",
          "no_kept_exact_within", "kept_subset_of_batch",
          "indexed_equals_sig_path")
    }),

    // multi-batch ingest LOOP over in-session stores: q126/q127 each
    // ingest ONE batch against a fresh store; this runs the production
    // loop — "append admitted rows, repeat next batch" — over 3
    // successive batches with stores that START EMPTY and grow by
    // exactly each round's admits (fingerprints, signatures AND
    // band-index rows, Curate.SessionStores), validated by the persisted
    // lshManifest every round. Loop invariants asserted:
    //  * no re-ingested exact copy of an earlier ADMIT is ever admitted
    //    (round i's batch deliberately re-ingests round i-1's admits)
    //  * re-ingesting round i's admits against the post-round store
    //    admits NOTHING (the append really closed the loop)
    //  * no two admits across all rounds share text (cross-round exact)
    //  * no later-round admit shares an LSH band bucket with an
    //    earlier admit at est-Jaccard ≥ threshold (cross-round near —
    //    exactly the guarantee the operator makes, nothing stronger:
    //    banding-missed pairs are the LSH approximation, not a loop
    //    defect)
    //  * the accumulated band index EQUALS lshBandIndex of the
    //    accumulated signature store (the appended-index contract)
    //  * a wrong-scheme manifest fails loudly (bands=8 vs the stored 16)
    // NOTE the chain-pessimistic drop rule makes the ADMIT SET
    // batch-split-dependent (one batch vs two halves may differ on
    // chain tails — spec'd in LlmSpec); the invariants above hold for
    // EVERY split, which is why they, not the admit ids, are the oracle.
    "q128_ingest_loop" -> ((s, dir) => {
      import s.implicits._
      val ML = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      def track(df: DataFrame): DataFrame = graft.dsl.Rel.track(df)
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val man = Dedup.lshManifest(s) // shingleK=3, numHashes=64, bands=16, v1
      // rounds re-key copies by copyBase*(i+1), the reingest probe by
      // copyBase*4; real ids are always < copyBase
      val (nDocs, nQualityPass, copyBase) = QCommon.ingestHeader(d)
      var stores = graft.llm.Curate.SessionStores.empty(d, "doc_id", "text",
        indexed = true)
      var prevAdmittedDocs = d.limit(0).select(col("doc_id").as("id"), col("text"))
      var noCopyAdmitted = true
      var reingestNothing = true
      var admitsSubset = true
      val admitsPerRound = new scala.collection.mutable.ArrayBuffer[DataFrame]
      for (i <- 0 until 3) {
        val batch = track(QCommon.roundBatch(d, prevAdmittedDocs, copyBase, i)
          .persist(ML))
        val (res, next) = stores.ingest(batch, manifest = Some(man))
        stores = next
        // admits LEFT-joined to the batch (re-attaching text; a null
        // doc_id marks a non-subset admit) — feeds the booleans and the
        // next round's copies. Checkpointed, not persisted: the
        // persisted join measured slower over the loop (BENCH_NOTES,
        // "One ingest path for the capstones")
        val admFull = res.join(batch, col("id") === col("doc_id"), "left")
          .localCheckpoint()
        // count(when(...)) never nulls on an empty frame
        val bs = admFull.agg(
          count(when(col("id") >= copyBase, lit(1))),
          count(when(col("doc_id").isNull, lit(1)))).head()
        noCopyAdmitted &&= bs.getLong(0) == 0L
        admitsSubset &&= bs.getLong(1) == 0L
        val admittedDocs = admFull.filter(col("doc_id").isNotNull)
          .select(col("id"), col("text"))
        // closed-loop check: this round's admits, re-ingested under new
        // ids against the JUST-APPENDED stores, admit nothing
        reingestNothing &&= graft.llm.Curate.incrementalCurate(
          admittedDocs.select((col("id") + copyBase * 4).as("doc_id"), col("text")),
          "doc_id", "text", stores.fp, stores.sig,
          bandIndex = stores.idx, manifest = Some(man)).isEmpty
        admitsPerRound += admittedDocs.withColumn("round", lit(i))
        prevAdmittedDocs = admittedDocs
      }
      val sigStore = stores.sig
      val allAdmits = track(admitsPerRound.reduce(_ unionByName _).persist(ML))
      // admit count + cross-round exact in ONE job: the sum of per-text
      // group counts IS the row count, a max group count > 1 IS a
      // shared text
      val tg = allAdmits.groupBy(col("text")).agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c")), lit(0L)),
          coalesce(max(col("c")), lit(0L))).head()
      val nAdmitted = tg.getLong(0)
      val noCrossExact = tg.getLong(1) <= 1L
      // cross-round near (the operator's own guarantee): no later admit
      // shares a band bucket with an earlier admit at est ≥ threshold
      val sigs = allAdmits.select(col("id"), col("round"))
        .join(sigStore, "id")
      val bandRows = sigs.select(col("id"), col("round"),
          posexplode(call_function("graft_band_keys_sig", col("sig"), lit(16))))
        .toDF("id", "round", "band", "key")
      val candPairs = bandRows.as("x").join(bandRows.as("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
            col("x.round") < col("y.round"))
        .select(col("x.id").as("a"), col("y.id").as("b")).distinct()
      val est = aggregate(zip_with(col("sa"), col("sb"),
          (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v).cast("double") / 64
      val noCrossNear = candPairs
        .join(sigStore.toDF("a", "sa"), "a")
        .join(sigStore.toDF("b", "sb"), "b")
        .filter(est >= 0.9).count() == 0L
      // appended-index contract: the accumulated index IS the index of
      // the accumulated signature store
      val idxMatches = QCommon.multisetEqual(stores.idx.get,
        Dedup.lshBandIndex(sigStore))
      // manifest guard live in the loop's own shape: a wrong-scheme
      // call against these stores fails loudly before any work
      val wrongManifestFails =
        try {
          graft.llm.Curate.incrementalCurate(
            d.limit(1), "doc_id", "text", stores.fp, sigStore,
            bands = 8, bandIndex = stores.idx, manifest = Some(man))
          false
        } catch { case _: IllegalArgumentException => true }
      val admitsBounded = nAdmitted <= nQualityPass
      Seq((nDocs, nQualityPass, 3, noCopyAdmitted, reingestNothing,
          admitsSubset, noCrossExact, noCrossNear, idxMatches,
          wrongManifestFails, admitsBounded))
        .toDF("n_docs", "n_quality_pass", "n_rounds",
          "no_reingested_copy_admitted", "reingest_admits_nothing",
          "admits_subset_of_batches", "no_cross_round_exact",
          "no_cross_round_near", "index_equals_sigstore_bands",
          "wrong_manifest_fails", "admits_bounded_by_gate")
    }),

    // DURABLE-table ingest loop: q128's loop in its production shape —
    // (fp, sig, idx) stores as bucketed TABLES in spark-warehouse,
    // bootstrapped EMPTY under the operators' own schemas, each round
    // one Curate.ingestBatch (no ledger: this in-query loop never
    // replays a round), whose appends go through Bucketed.appendBucketed
    // (which validates the bucket+sort spec, so the zero-Exchange
    // co-location contract cannot silently break), the manifest riding
    // as its own one-row table. Asserted:
    //  * admit PARITY with the in-session Curate.SessionStores twin on
    //    the SAME batches (the operator is deterministic; any divergence
    //    would be durable-path drift — append misrouting, schema
    //    mangling, sort weakening, a recomputed admit frame)
    //  * no re-ingested exact copy of an earlier admit is admitted by
    //    the TABLE-backed fingerprint store
    //  * the post-append band-index bucket aggregation plans with ZERO
    //    Exchange (the contract appendBucketed's scaladoc promises)
    //  * a wrong-scheme call against the manifest TABLE fails loudly
    //  * Bucketed.compact at the end: file count collapses to one per
    //    bucket, content identical (index still equals
    //    lshBandIndex(sig table)), co-location preserved
    // Counts (n_docs, n_quality_pass) are SQL-derivable; admit ids are
    // hash- and split-dependent (q128's rationale) so the invariants,
    // not the ids, are the oracle. Buckets = 4 here; production sizes
    // the bucket count to the cluster (thousands at 100 TB).
    "q129_ingest_loop_tables" -> ((s, dir) => {
      import s.implicits._
      val B = 4
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val man = Dedup.lshManifest(s)
      val (nDocs, nQualityPass, copyBase) = QCommon.ingestHeader(d)
      // a crash inside a previous run's compact would leave the
      // _compacting sibling behind and fail THIS run's compact loudly —
      // clear it up front (the rerun-completes-the-swap recovery)
      s.sql("DROP TABLE IF EXISTS g129_idx_compacting")
      QCommon.bootstrapStores(d, "g129", B, man)
      val manT = s.table("g129_man")
      val (_, parity, nAdmitted, noCopyAdmitted) = QCommon.durableRounds(
        d, "g129", B, copyBase, man, ledger = false)
      // the index table's bucket aggregation plans with no Exchange
      def idxAggZeroExchange() = !s.table("g129_idx").groupBy(col("band"), col("key"))
        .agg(collect_list(col("id")).as("ds"))
        .queryExecution.executedPlan.toString.contains("Exchange")
      val idxZeroExchange = idxAggZeroExchange()
      // manifest as a TABLE: a wrong-scheme call fails loudly before
      // any corpus-sized work
      val wrongManifestFails =
        try {
          graft.llm.Curate.incrementalCurate(
            d.limit(1), "doc_id", "text", s.table("g129_fp"), s.table("g129_sig"),
            bands = 8, bandIndex = Some(s.table("g129_idx")), manifest = Some(manT))
          false
        } catch { case _: IllegalArgumentException => true }
      // scheduled maintenance: compact the appended index table —
      // content identical, one file per bucket, co-location preserved
      val idxBefore = s.table("g129_idx").count()
      graft.ops.Bucketed.compact(s, "g129_idx")
      val fullIdx = Dedup.lshBandIndex(s.table("g129_sig"))
      // count preservation + content equality
      val compactPreserves = s.table("g129_idx").count() == idxBefore &&
        QCommon.multisetEqual(s.table("g129_idx"), fullIdx)
      val idxLoc = new org.apache.hadoop.fs.Path(
        s.sessionState.catalog.getTableMetadata(
          s.sessionState.sqlParser.parseTableIdentifier("g129_idx")).location)
      val fs = idxLoc.getFileSystem(s.sparkContext.hadoopConfiguration)
      val nIdxFiles = fs.listStatus(idxLoc)
        .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      val compactOneFilePerBucket = nIdxFiles == B
      val compactZeroExchange = idxAggZeroExchange()
      val admitsBounded = nAdmitted <= nQualityPass
      Seq("g129_fp", "g129_sig", "g129_idx", "g129_man")
        .foreach(tn => s.sql(s"DROP TABLE IF EXISTS $tn"))
      Seq((nDocs, nQualityPass, 3, parity, noCopyAdmitted, idxZeroExchange,
          wrongManifestFails, compactPreserves, compactOneFilePerBucket,
          compactZeroExchange, admitsBounded))
        .toDF("n_docs", "n_quality_pass", "n_rounds",
          "table_admits_equal_insession", "no_reingested_copy_admitted",
          "idx_agg_zero_exchange_post_append", "manifest_table_wrong_scheme_fails",
          "compact_preserves_index", "compact_one_file_per_bucket",
          "compact_zero_exchange", "admits_bounded_by_gate")
    }),

    // split-invariant ingest mode as a DRIVER query: the corpus (real
    // docs + a planted a~b~c near-dup chain whose members land in three
    // different prefix batches) is ingested through incrementalCurate
    // (splitInvariant = true) twice — as ONE batch and as THREE
    // consecutive id-range batches — and the admit sets must be
    // IDENTICAL (the mode's contract: every seen rep's signature is
    // appended, so a document's admit decision depends only on what was
    // seen before it, never on where the boundaries fall). The planted
    // chain (the LlmSpec sliding-window fixture: J(a,b) = J(b,c) ≈ 0.58,
    // J(a,c) ≈ 0.31 at threshold 0.45, bands=32 — candidate discovery
    // probability ≈ 1, spec-pinned deterministic under the fixed
    // hashes) makes the invariance BITE: in the DEFAULT
    // chain-pessimistic mode the same 3-batch split ADMITS the chain
    // tail c (b was dropped and never reached the store) — that flip is
    // demonstrated in-query as the contrast boolean. Real ids are
    // shifted ×10 so the planted ids (≡1 mod 10, one per tercile) can
    // never collide. n_docs is SQL-derivable (count + 3); the booleans
    // are Spark-checked, oracle-stated.
    "q130_split_invariant_ingest" -> ((s, dir) => {
      import s.implicits._
      val ML = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      // bounded sub-corpus + planted chain from the SHARED fixture
      // (QCommon.chainCorpus): invariance is a property of the RULE,
      // not of corpus volume — scale evidence lives in the q119/q128
      // curves, not here
      val (corpus0, t1, t2, aId, _, cId) = QCommon.chainCorpus(s, dir)
      val corpus = graft.dsl.Rel.track(corpus0.persist(ML))
      val nDocs = corpus.count()
      // one ingest pass over consecutive id-range batches; returns the
      // accumulated admit-id frame
      def run(bounds: Seq[Long], splitInv: Boolean): DataFrame = {
        var stores = graft.llm.Curate.SessionStores.empty(corpus, "doc_id", "text",
          bands = 32)
        val admits = (Seq(Long.MinValue) ++ bounds).zip(bounds ++ Seq(Long.MaxValue))
          .map { case (lo, hi) =>
            val (res, next) = stores.ingest(
              corpus.filter(col("doc_id") >= lo && col("doc_id") < hi),
              threshold = 0.45, splitInvariant = splitInv)
            stores = next
            (if (splitInv) res.filter(col("admitted")) else res).select(col("id"))
          }
        admits.reduce(_ unionByName _)
      }
      val one = run(Seq.empty, splitInv = true)
      val three = run(Seq(t1, t2), splitInv = true)
      // multiset equality in ONE job, and the two chain-member probes
      // per frame in ONE aggregation each
      val invariant = QCommon.multisetEqual(one, three)
      def chainProbe(f: DataFrame) = f.agg(
        count(when(col("id") === aId, lit(1))),
        count(when(col("id") === cId, lit(1)))).head()
      val p1 = chainProbe(one); val p3 = chainProbe(three)
      val aAdmittedBoth = p1.getLong(0) == 1L && p3.getLong(0) == 1L
      val cDroppedBoth = p1.getLong(1) == 0L && p3.getLong(1) == 0L
      // the contrast: the default pessimistic rule ADMITS the chain
      // tail on the same 3-batch split (dropped b never reached the
      // store) — exactly the order-dependence the mode removes
      val defaultAdmitsTailOnSplit =
        run(Seq(t1, t2), splitInv = false)
          .filter(col("id") === cId).count() == 1L
      Seq((nDocs, invariant, aAdmittedBoth, cDroppedBoth, defaultAdmitsTailOnSplit))
        .toDF("n_docs", "split_equals_one_batch", "chain_head_admitted",
          "chain_tail_dropped_both", "default_admits_tail_on_split")
    }),

    // STREAMING continuous ingest, batch-replay form: the durable-table
    // loop driven through Curate.ingestBatch WITH a ledger — the EXACT
    // body streamingIngest wires into foreachBatch (the MemoryStream
    // end-to-end run lives in CurateStreamSpec; here the replay-visible
    // semantics are oracled):
    //  * admit PARITY with the in-session Curate.SessionStores twin on
    //    the same batches (would catch the RECACHE hazard — ingestBatch
    //    localCheckpoints the admit frame before its appends)
    //  * at-least-once DELIVERY closes: the onAdmitted callback's
    //    delivered total equals the sig table's admit count
    //  * exactly-once at batch granularity: replaying an already-
    //    LEDGERED batch id leaves every store table untouched
    //  * a NEW batch id re-sending earlier admits under fresh ids
    //    admits nothing (the closed loop through the table stores) and
    //    appends only its ledger row
    //  * the ledger ends complete: one row per processed batch id
    // Counts are SQL-derivable; admit ids are hash-dependent (q128's
    // rationale), so the invariants are the oracle. Delivery tracking
    // is COUNTS only — the callback must not retain its frame (the
    // batch-end sweep unpersists it) and corpus-sized id collects are
    // the anti-pattern the loop queries exist to avoid.
    "q131_streaming_ingest_replay" -> ((s, dir) => {
      import s.implicits._
      val B = 4
      val C = graft.llm.Curate
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val man = Dedup.lshManifest(s)
      val (nDocs, nQualityPass, copyBase) = QCommon.ingestHeader(d)
      QCommon.bootstrapStores(d, "g131", B, man)
      s.sql("DROP TABLE IF EXISTS g131_led")
      // all four table counts in ONE action (a union of per-table
      // aggregates)
      def tableCounts() = Seq("g131_fp", "g131_sig", "g131_idx", "g131_led")
        .map(tn => s.table(tn).agg(count(lit(1)).as("c")))
        .reduce(_ unionByName _).collect().map(_.getLong(0)).toSeq
      var delivered = 0L
      val deliver: (DataFrame, Long) => Unit = (df, _) => delivered += df.count()
      val (lastBatch, parity, nAdmitted, noCopyAdmitted) = QCommon.durableRounds(
        d, "g131", B, copyBase, man, ledger = true, onAdmitted = deliver)
      val deliveredMatches = delivered == nAdmitted
      // exactly-once: replay the last LEDGERED batch id — a no-op
      val before = tableCounts()
      C.ingestBatch(lastBatch, 2L, "doc_id", "text",
        "g131_fp", "g131_sig", "g131_idx", B,
        manifestTable = Some("g131_man"), ledgerTable = Some("g131_led"),
        onAdmitted = deliver)
      val replayNoop = tableCounts() == before && delivered == nAdmitted
      // a NEW batch id carrying copies of every admit: nothing admits,
      // only the ledger row lands
      C.ingestBatch(
        // every admit is a real id (noCopyAdmitted above), so d alone
        // recovers the admitted texts
        s.table("g131_sig").join(d, col("id") === col("doc_id"))
          .select((col("id") + copyBase * 5).as("doc_id"), col("text")),
        3L, "doc_id", "text", "g131_fp", "g131_sig", "g131_idx", B,
        manifestTable = Some("g131_man"), ledgerTable = Some("g131_led"),
        onAdmitted = deliver)
      val reingestNothing = tableCounts() == before.init :+ (before.last + 1L) &&
        delivered == nAdmitted
      val ledgerComplete = s.table("g131_led").select(col("batch_id"))
        .as[Long].collect().toSet == Set(0L, 1L, 2L, 3L)
      val admitsBounded = nAdmitted <= nQualityPass
      Seq("g131_fp", "g131_sig", "g131_idx", "g131_man", "g131_led")
        .foreach(tn => s.sql(s"DROP TABLE IF EXISTS $tn"))
      Seq((nDocs, nQualityPass, 3, parity, noCopyAdmitted, deliveredMatches,
          replayNoop, reingestNothing, ledgerComplete, admitsBounded))
        .toDF("n_docs", "n_quality_pass", "n_batches",
          "table_admits_equal_insession", "no_reingested_copy_admitted",
          "delivered_equals_admitted", "ledgered_replay_noop",
          "new_batch_reingest_admits_nothing", "ledger_complete",
          "admits_bounded_by_gate")
    }),

    // Persisted IVF vector index (r20) — the similarity-search twin of
    // the q129/q131 durable stores: codebook trained ONCE at build and
    // persisted in a one-row manifest table, corpus laid out as a
    // bucketed (id, cell, vec) TABLE co-located by cell, appends
    // batch-sized against the MANIFEST centroids (no retraining, no
    // corpus re-assignment), probes read the table. Oracled invariants:
    //  * q42-style ANN shape (k rows/query, rk-ordered, cosine EXACT
    //    vs a recompute from the raw vectors)
    //  * index content ≡ assigning the FULL corpus under the manifest
    //    centroids — the append-parity that makes appends safe
    //  * indexed probe ≡ the in-session flat twin on the same codebook
    //    (the table round-trip preserves vectors and cells exactly)
    //  * per-cell maintenance aggregation Exchange-free (plan-asserted)
    //  * a wrong-dim query fails loudly BEFORE corpus-sized work
    "q132_ivf_index" -> ((s, dir) => {
      import s.implicits._
      val ML = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val VI = graft.llm.VectorIndex
      val v = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val nCorpus = v.count()
      Seq("g132_idx", "g132_man").foreach(tn =>
        s.sql(s"DROP TABLE IF EXISTS $tn"))
      VI.build(v.filter(pmod(col("vec_id"), lit(2)) === 0), "vec_id",
        "embedding", nCells = 16, "g132_idx", "g132_man", buckets = 4)
      VI.append(v.filter(pmod(col("vec_id"), lit(2)) === 1), "vec_id",
        "embedding", "g132_idx", "g132_man")
      val queries = v.filter(col("vec_id") < 10)
      val res = graft.dsl.Rel.track(
        VI.query(queries, "vec_id", "embedding", "g132_idx", "g132_man",
          k = 5, nprobe = 3, excludeSelf = true).persist(ML))
      res.count()
      val shape = annShapeCheck(s, v, res, k = 5).collect()(0)
      // append parity: the table holds exactly what assigning the FULL
      // corpus under the manifest codebook yields
      val (cents, ver) = VI.loadManifest(s, "g132_man", "q132")
      val full = VI.assign(v, "vec_id", "embedding", cents, ver)
      val idx = s.table("g132_idx")
      // ONE tagged-union aggregation (was two exceptAll actions, each
      // re-running the full-corpus assignment)
      val idxParity = QCommon.multisetEqual(idx, full)
      // flat-scan twin on the same codebook, same kernels
      val q = queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"),
        explode(Similarity.nearestCellsExpr(cents, 3)(col("embedding"))).as("cell"))
      val twin = Similarity.topKSelect(
        q.join(full.select(col("cell"), col("id").as("neighbor_id"),
            col("vec").as("cv")), Seq("cell"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            Similarity.cosineExpr(col("qv"), col("cv")).as("cosine")), 5)
      // one aggregation instead of two exceptAll actions — the old pair
      // evaluated the un-persisted twin derivation twice
      val flatParity = QCommon.multisetEqual(res, twin)
      val aggPlan = idx.groupBy(col("cell")).agg(count(lit(1)))
        .queryExecution.executedPlan.toString
      val zeroExchange = !aggPlan.contains("Exchange")
      val wrongDimFails =
        try {
          VI.query(queries.select(col("vec_id"),
              slice(col("embedding"), 1, 8).as("embedding")),
            "vec_id", "embedding", "g132_idx", "g132_man", k = 2)
          false
        } catch {
          case e: IllegalArgumentException => e.getMessage.contains("dim")
        }
      Seq("g132_idx", "g132_man").foreach(tn =>
        s.sql(s"DROP TABLE IF EXISTS $tn"))
      Seq((nCorpus, shape.getLong(0), shape.getBoolean(1),
          shape.getBoolean(2), shape.getBoolean(3), idxParity, flatParity,
          zeroExchange, wrongDimFails))
        .toDF("n_corpus", "n_queries", "k_rows_each", "rk_ordered",
          "cosine_exact", "index_matches_manifest_assign",
          "flat_scan_parity", "maintenance_zero_exchange",
          "wrong_dim_fails")
    })
  )

  /** Salted corpus for q56 — must mirror the Spark-side construction. */
  private val stressCorpusSql =
    """SELECT doc_id, text FROM documents
       UNION ALL
       SELECT doc_id + c * 1000000 AS doc_id, text
       FROM documents, (SELECT UNNEST(range(1, 11)) AS c)
       WHERE doc_id % 25 = 0"""

  private val gram8 =
    "w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]||' '||w[i+5]||' '||w[i+6]||' '||w[i+7]"

  private val gram5 = "w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]"
  private val polyG =
    """list_reduce(list_prepend(CAST(0 AS BIGINT),
       list_transform(string_split(g, ''), c -> ord(c))),
       (h, c) -> (h * 31 + c) % 2147483647)"""

  /** Oracle of the 3-round ingest loops (q128, q129, q131): the
    * SQL-derivable header — total docs and quality-gate passes over the
    * base batches (= over all documents, each doc in exactly one slice)
    * — then `rounds` = 3 and each Spark-checked invariant `flags` as
    * TRUE. */
  private def ingestLoopSql(rounds: String, flags: String*): String =
    s"""WITH s AS (SELECT doc_id, text,
           len(string_split(text, ' '))::DOUBLE AS n,
           len(list_distinct(string_split(text, ' ')))::DOUBLE AS lnd
         FROM documents),
       q AS (SELECT doc_id,
           FLOOR(((lnd / n) * 0.4
                  + (LEAST(LENGTH(text)::DOUBLE / n, 8.0) / 8.0) * 0.3
                  + LEAST(n / 100.0, 1.0) * 0.3) * 10000 + 0.5) / 10000
             AS quality
         FROM s)
       SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT COUNT(*) FROM q WHERE quality >= 0.5) AS n_quality_pass,
         3 AS $rounds, ${flags.map(f => s"TRUE AS $f").mkString(", ")}"""

  val oracleSql: Map[String, String] = Map(
    // q32 property oracle (the q26/q42 pattern): the 64 fingerprint bits
    // are xxhash64-seeded and not SQL-re-derivable, so the query emits
    // its deterministic PROPERTIES (duplicate-copy equality, token-set
    // order/multiplicity invariance, Column-form ≡ kernel on a subset)
    // as Spark-computed booleans the oracle states as constants.
    "q32_simhash" ->
      """SELECT COUNT(*) AS n_docs, TRUE AS fp_rows_match,
         TRUE AS all_dup_copy_equal,
         TRUE AS all_order_invariant, TRUE AS all_dupword_invariant,
         TRUE AS colform_subset_equal FROM documents""",
    "q77_dedup_clusters" ->
      s"""WITH RECURSIVE sh AS (${shingleRowsSql(derivedDocsSql)}),
          cnt AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY 1),
          inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
                    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                    GROUP BY 1, 2),
          pairs AS (SELECT id_a, id_b
                    FROM inter
                    JOIN cnt ca ON ca.doc_id = id_a
                    JOIN cnt cb ON cb.doc_id = id_b
                    WHERE i / (ca.c + cb.c - i) >= 0.6),
          edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                    UNION ALL SELECT id_b, id_a FROM pairs),
          reach(v, u) AS (
            SELECT a, a FROM edges
            UNION
            SELECT reach.v, edges.b FROM reach JOIN edges ON reach.u = edges.a)
          SELECT v AS doc_id, MIN(u) AS component, MIN(u) = v AS is_keeper
          FROM reach GROUP BY v ORDER BY doc_id""",
    "q103_group_sample" ->
      """WITH f AS (SELECT doc_id, source,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(text, ''), c -> ord(c))),
             (h, c) -> (h * 31 + c) % 2147483647)::BIGINT AS fp
           FROM documents),
         r AS (SELECT doc_id, source,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY fp, doc_id) AS rk
           FROM f)
         SELECT doc_id, source, rk FROM r WHERE rk <= 5
         ORDER BY source, rk""",
    "q78_token_budget" ->
      """WITH f AS (SELECT doc_id, source,
           len(string_split(text, ' '))::BIGINT AS n_tokens,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(text, ''), c -> ord(c))),
             (h, c) -> (h * 31 + c) % 2147483647)::BIGINT AS fp
           FROM documents),
         c AS (SELECT doc_id, source, n_tokens,
           (SUM(n_tokens) OVER (PARTITION BY source ORDER BY fp, doc_id))::BIGINT AS cum_tokens
           FROM f)
         SELECT doc_id, source AS src, n_tokens, cum_tokens FROM c
         WHERE cum_tokens <= 2000 ORDER BY doc_id""",
    "q88_mixture" ->
      """WITH f AS (SELECT doc_id, source,
           len(string_split(text, ' '))::BIGINT AS n_tokens,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(text, ''), c -> ord(c))),
             (h, c) -> (h * 31 + c) % 2147483647)::BIGINT AS fp
           FROM documents),
         c AS (SELECT doc_id, source, n_tokens,
           (SUM(n_tokens) OVER (PARTITION BY source ORDER BY fp, doc_id))::BIGINT AS cum_tokens
           FROM f)
         SELECT doc_id, source AS src, n_tokens, cum_tokens FROM c
         WHERE cum_tokens <= CASE WHEN CAST(substr(source, 4, 10) AS INT) % 2 = 0
                                  THEN 450 ELSE 150 END
         ORDER BY doc_id""",
    "q42_ann_ivf" ->
      """SELECT COUNT(*) AS n_queries, TRUE AS k_rows_each,
         TRUE AS rk_ordered, TRUE AS cosine_exact
         FROM embeddings WHERE vec_id < 10""",
    "q98_semdedup" ->
      """SELECT COUNT(*) AS n_total, TRUE AS any_removed,
         TRUE AS removed_have_partner, TRUE AS keeper_is_min,
         TRUE AS components_within_cell
         FROM embeddings""",
    "q92_pq_topk" ->
      """SELECT COUNT(*) AS n_queries, TRUE AS k_rows_each,
         TRUE AS rk_ordered, TRUE AS cosine_exact
         FROM embeddings WHERE vec_id < 10""",
    "q93_ivfpq_topk" ->
      """SELECT COUNT(*) AS n_queries, TRUE AS k_rows_each,
         TRUE AS rk_ordered, TRUE AS cosine_exact
         FROM embeddings WHERE vec_id < 10""",
    "q69_curate" ->
      """WITH ls AS (SELECT doc_id, string_split(text, '. ') AS arr FROM documents),
         lines AS (SELECT doc_id, unnest(arr) AS line,
                   generate_subscripts(arr, 1) AS pos FROM ls),
         dfreq AS (SELECT line, COUNT(DISTINCT doc_id) AS docs FROM lines GROUP BY 1),
         reassembled AS (
           SELECT doc_id, string_agg(line, '. ' ORDER BY pos) AS clean0
           FROM lines JOIN dfreq USING (line) WHERE docs <= 3 GROUP BY doc_id),
         scrubbed AS (
           SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(clean0,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
               '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
               '\+[0-9][0-9 -]{7,14}[0-9]', '<PHONE>', 'g') AS clean
           FROM reassembled),
         scored AS (
           SELECT s.doc_id, s.clean, d.source,
             FLOOR(((s.lnd / s.n) * 0.4
                    + (LEAST(LENGTH(s.clean)::DOUBLE / s.n, 8.0) / 8.0) * 0.3
                    + LEAST(s.n / 100.0, 1.0) * 0.3) * 10000 + 0.5) / 10000 AS quality
           FROM (SELECT doc_id, clean,
                   len(string_split(clean, ' '))::DOUBLE AS n,
                   len(list_distinct(string_split(clean, ' ')))::DOUBLE AS lnd
                 FROM scrubbed) s JOIN documents d USING (doc_id)),
         filtered AS (SELECT * FROM scored WHERE quality >= 0.5),
         keepers AS (SELECT MIN(doc_id) AS doc_id FROM filtered GROUP BY clean)
         SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(clean, ' '))) AS BIGINT) AS sum_tokens,
           (SUM(CAST(quality AS DECIMAL(18,4))))::DOUBLE AS sum_quality
         FROM filtered JOIN keepers USING (doc_id)
         GROUP BY 1 ORDER BY 1""",
    "q68_unigram_logprob" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         wc AS (SELECT word, COUNT(*) AS c FROM toks GROUP BY 1),
         tot AS (SELECT SUM(c) AS n_total FROM wc)
         SELECT doc_id, COUNT(*) AS n_tokens,
           FLOOR((SUM(CAST(LN(c::DOUBLE / n_total) AS DECIMAL(28,12)))::DOUBLE
                  / COUNT(*)) * 1000000 + 0.5) / 1000000 AS mean_logprob
         FROM toks JOIN wc USING (word), tot
         GROUP BY doc_id ORDER BY doc_id""",
    "q99_bigram_logprob" ->
      """WITH wlist AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         pairs AS (SELECT doc_id,
                     UNNEST(list_transform(range(1, len(w)),
                       i -> {'prev': w[i], 'cur': w[i+1]})) AS bg
                   FROM wlist WHERE len(w) >= 2),
         p AS (SELECT doc_id, bg.prev AS prev, bg.cur AS cur FROM pairs),
         toks AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
         ug AS (SELECT word, COUNT(*) AS c_w FROM toks GROUP BY 1),
         bgc AS (SELECT prev, cur, COUNT(*) AS c_vw FROM p GROUP BY 1, 2),
         tot AS (SELECT SUM(c_w) AS n_total FROM ug)
         SELECT doc_id, COUNT(*) AS n_bigrams,
           FLOOR((SUM(CAST(LN((c_vw + (uc.c_w::DOUBLE / n_total) * 0.5)
                              / (up.c_w + 0.5)) AS DECIMAL(28,12)))::DOUBLE
                  / COUNT(*)) * 1000000 + 0.5) / 1000000 AS mean_logprob
         FROM p
         JOIN bgc USING (prev, cur)
         JOIN ug up ON up.word = p.prev
         JOIN ug uc ON uc.word = p.cur, tot
         GROUP BY doc_id ORDER BY doc_id""",
    "q67_text_analyze" ->
      s"""SELECT doc_id, n_tokens_ws, n_tokens_re, n_chars,
         CASE WHEN en >= es AND en >= fr AND en >= de THEN 'en'
              WHEN es >= fr AND es >= de THEN 'es'
              WHEN fr >= de THEN 'fr' ELSE 'de' END AS lang_pred,
         FLOOR(((lnd / n) * 0.4 + (LEAST(nc / n, 8.0) / 8.0) * 0.3
                + LEAST(n / 100.0, 1.0) * 0.3) * 10000 + 0.5) / 10000 AS quality,
         FLOOR((nstop / n) * 10000 + 0.5) / 10000 AS stopword_ratio,
         fingerprint, shingle_fp
         FROM (
           SELECT doc_id,
             len(w)::BIGINT AS n_tokens_ws,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_tokens_re,
             LENGTH(text)::BIGINT AS n_chars,
             LENGTH(text)::DOUBLE AS nc,
             len(w)::DOUBLE AS n,
             len(list_distinct(w))::DOUBLE AS lnd,
             len(list_filter(w, x -> x='the' OR x='a' OR x='of' OR x='and' OR x='to' OR x='in'))::DOUBLE AS nstop,
             len(list_filter(w, x -> x='the' OR x='a' OR x='of' OR x='and')) AS en,
             len(list_filter(w, x -> x='el' OR x='la' OR x='los' OR x='de')) AS es,
             len(list_filter(w, x -> x='le' OR x='la' OR x='les' OR x='des')) AS fr,
             len(list_filter(w, x -> x='der' OR x='die' OR x='das' OR x='und')) AS de,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ''), c -> ord(c))),
               (h, c) -> (h * 31 + c) % 2147483647)::BIGINT AS fingerprint,
             list_aggregate(list_transform(
               CASE WHEN len(w) >= 5
                    THEN list_distinct(list_transform(range(1, len(w) - 3), i -> $gram5))
                    ELSE [text] END,
               g -> $polyG), 'min')::BIGINT AS shingle_fp
           FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents))
         ORDER BY doc_id""",
    "q66_decontaminate" ->
      s"""WITH docs8 AS (
           SELECT doc_id, UNNEST(list_distinct(
             CASE WHEN len(w) >= 8
                  THEN list_transform(range(1, len(w) - 6), i -> $gram8)
                  ELSE [text] END)) AS s
           FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)),
         bench AS (
           SELECT array_to_string(string_split(text, ' ')[1:12], ' ') AS excerpt
           FROM documents WHERE doc_id % 25 = 0),
         bench8 AS (
           SELECT DISTINCT UNNEST(list_distinct(
             CASE WHEN len(w) >= 8
                  THEN list_transform(range(1, len(w) - 6), i -> $gram8)
                  ELSE [txt] END)) AS s
           FROM (SELECT excerpt AS txt, string_split(excerpt, ' ') AS w
                 FROM bench))
         SELECT doc_id, COUNT(*) AS n_hits
         FROM docs8 JOIN bench8 USING (s)
         GROUP BY 1 ORDER BY doc_id""",
    "q65_boilerplate" ->
      """WITH salted AS (
           SELECT doc_id,
             'subscribe to our newsletter. ' || text || '. all rights reserved' AS text
           FROM documents),
         ls AS (SELECT doc_id, string_split(text, '. ') AS arr FROM salted),
         lines AS (SELECT doc_id, unnest(arr) AS line,
                   generate_subscripts(arr, 1) AS pos FROM ls),
         dfreq AS (SELECT line, COUNT(DISTINCT doc_id) AS docs
                   FROM lines GROUP BY 1)
         SELECT doc_id, string_agg(line, '. ' ORDER BY pos) AS clean
         FROM lines JOIN dfreq USING (line)
         WHERE docs <= 3
         GROUP BY doc_id ORDER BY doc_id""",
    "q64_pii_scrub" ->
      """SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(
           text || ' contact u' || doc_id || '@example.com or +1 555-000-' ||
             lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
             ' at 10.0.' || (doc_id % 256) || '.7',
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
           '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
           '\+[0-9][0-9 -]{7,14}[0-9]', '<PHONE>', 'g') AS clean
         FROM documents ORDER BY doc_id""",
    "q55_tfidf" ->
      """WITH terms AS (
           SELECT doc_id AS doc, UNNEST(string_split(text, ' ')) AS term
           FROM documents),
         tf AS (SELECT doc, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
         dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT COUNT(*) AS n_docs FROM documents)
         SELECT doc, term, tf, df,
           FLOOR((tf * LN(CAST(n_docs AS DOUBLE) / df)) * 1000000 + 0.5) / 1000000 AS tfidf
         FROM tf JOIN dfreq USING (term), n
         ORDER BY doc, term""",
    "q58_quality_rules" ->
      """WITH terms AS (
           SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents),
         wc AS (SELECT doc_id, word, COUNT(*) AS c FROM terms GROUP BY 1, 2),
         rep AS (SELECT doc_id,
                   FLOOR((CAST(MAX(c) AS DOUBLE) / SUM(c)) * 10000 + 0.5) / 10000
                     AS frac_top_word
                 FROM wc GROUP BY 1)
         SELECT d.doc_id,
           len(string_split(d.text, ' '))::BIGINT AS n_words,
           FLOOR((CAST(len(replace(d.text, ' ', '')) AS DOUBLE)
                  / len(string_split(d.text, ' '))) * 10000 + 0.5) / 10000
             AS mean_word_len,
           FLOOR((CAST(len(list_filter(string_split(d.text, ' '),
                                       w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
                  / len(string_split(d.text, ' '))) * 10000 + 0.5) / 10000
             AS frac_alpha,
           rep.frac_top_word
         FROM documents d JOIN rep USING (doc_id)
         ORDER BY d.doc_id""",
    "q84_repetition" ->
      """WITH base AS (SELECT doc_id, len(text) AS n_chars,
                         string_split(text, ' ') AS w
                       FROM documents),
         g AS (SELECT doc_id, n,
                 UNNEST(list_transform(range(1, len(w) - n + 2),
                        i -> array_to_string(w[i:i+n-1], ' '))) AS gram
               FROM base, (VALUES (2), (5), (10)) AS ns(n)
               WHERE len(w) >= n),
         cnt AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM g GROUP BY 1, 2, 3),
         roll AS (SELECT doc_id,
                    MAX(CASE WHEN n = 2 THEN c * len(gram) END) AS top2,
                    SUM(CASE WHEN n = 5 AND c >= 2
                             THEN (c - 1) * len(gram) END) AS dup5,
                    SUM(CASE WHEN n = 10 AND c >= 2
                             THEN (c - 1) * len(gram) END) AS dup10
                  FROM cnt GROUP BY 1)
         SELECT b.doc_id,
           CASE WHEN b.n_chars > 0
                THEN FLOOR(LEAST(COALESCE(top2, 0)::DOUBLE / b.n_chars, 1.0)
                           * 10000 + 0.5) / 10000
                ELSE 0.0 END AS frac_chars_top_2gram,
           CASE WHEN b.n_chars > 0
                THEN FLOOR(LEAST(COALESCE(dup5, 0)::DOUBLE / b.n_chars, 1.0)
                           * 10000 + 0.5) / 10000
                ELSE 0.0 END AS frac_chars_dup_5gram,
           CASE WHEN b.n_chars > 0
                THEN FLOOR(LEAST(COALESCE(dup10, 0)::DOUBLE / b.n_chars, 1.0)
                           * 10000 + 0.5) / 10000
                ELSE 0.0 END AS frac_chars_dup_10gram
         FROM base b LEFT JOIN roll USING (doc_id)
         ORDER BY b.doc_id""",
    "q89_lexical_diversity" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         wc AS (SELECT doc_id, word, COUNT(*) AS c FROM toks GROUP BY 1, 2),
         agg AS (SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n_words,
                   COUNT(*) AS n_types,
                   SUM(CAST(c::DOUBLE * LN(c::DOUBLE) AS DECIMAL(28,12)))
                     AS sum_clnc
                 FROM wc GROUP BY 1)
         SELECT doc_id, n_words,
           FLOOR((n_types::DOUBLE / n_words) * 10000 + 0.5) / 10000
             AS type_token_ratio,
           FLOOR(((LN(n_words::DOUBLE) - sum_clnc::DOUBLE / n_words)
                  / LN(2.0)) * 10000 + 0.5) / 10000 AS word_entropy
         FROM agg ORDER BY doc_id""",
    "q94_dsir_weights" ->
      """WITH toks AS (
           SELECT doc_id, source = 'src0' AS is_target,
             unnest(string_split(text, ' ')) AS word FROM documents),
         wc AS (SELECT word, COUNT(*) AS c_raw,
                  SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS c_tgt
                FROM toks GROUP BY 1),
         tot AS (SELECT SUM(c_raw) AS n_raw, SUM(c_tgt) AS n_tgt,
                   COUNT(*) AS v FROM wc)
         SELECT doc_id, COUNT(*) AS n_tokens,
           FLOOR(SUM(CAST(LN((c_tgt + 0.5) / (n_tgt + 0.5 * v))
                          - LN((c_raw + 0.5) / (n_raw + 0.5 * v))
                     AS DECIMAL(28,12)))::DOUBLE * 1000000 + 0.5) / 1000000
             AS logratio,
           FLOOR((SUM(CAST(LN((c_tgt + 0.5) / (n_tgt + 0.5 * v))
                           - LN((c_raw + 0.5) / (n_raw + 0.5 * v))
                      AS DECIMAL(28,12)))::DOUBLE / COUNT(*)) * 1000000 + 0.5)
             / 1000000 AS mean_logratio
         FROM toks JOIN wc USING (word), tot
         GROUP BY doc_id ORDER BY doc_id""",
    "q95_chunk" ->
      """WITH base AS (
           SELECT doc_id, string_split(text, ' ') AS w,
             len(string_split(text, ' ')) AS n FROM documents),
         pre AS (SELECT doc_id, w, n,
                   CASE WHEN n <= 12 THEN CAST(0 AS BIGINT)
                        ELSE CAST(CEIL((n - 12) / 8.0) AS BIGINT) END AS m
                 FROM base),
         g AS (SELECT doc_id, w, n,
                 UNNEST(list_transform(range(0, m + 1),
                   k -> {'cid': k,
                         's': CASE WHEN k < m THEN k * 8
                                   ELSE GREATEST(n - 12, 0) END})) AS c
               FROM pre)
         SELECT doc_id, c.cid AS chunk_id, c.s AS start_word,
           CAST(LEAST(12, n - c.s) AS BIGINT) AS n_words,
           array_to_string(w[c.s + 1 : c.s + 12], ' ') AS chunk_text
         FROM g ORDER BY doc_id, chunk_id""",
    "q100_prep_pipeline" ->
      """WITH scored AS (
           SELECT doc_id, text FROM (
             SELECT doc_id, text,
               FLOOR(((lnd / n) * 0.4 + (LEAST(nc / n, 8.0) / 8.0) * 0.3
                      + LEAST(n / 100.0, 1.0) * 0.3) * 10000 + 0.5) / 10000
                 AS quality
             FROM (SELECT doc_id, text,
                     len(string_split(text, ' '))::DOUBLE AS n,
                     len(list_distinct(string_split(text, ' ')))::DOUBLE AS lnd,
                     LENGTH(text)::DOUBLE AS nc
                   FROM documents))
           WHERE quality >= 0.5),
         base AS (SELECT doc_id, string_split(text, ' ') AS w,
                    len(string_split(text, ' ')) AS n FROM scored),
         pre AS (SELECT doc_id, w, n,
                   CASE WHEN n <= 12 THEN CAST(0 AS BIGINT)
                        ELSE CAST(CEIL((n - 12) / 8.0) AS BIGINT) END AS m
                 FROM base),
         g AS (SELECT doc_id, n,
                 UNNEST(list_transform(range(0, m + 1),
                   k -> {'cid': k,
                         's': CASE WHEN k < m THEN k * 8
                                   ELSE GREATEST(n - 12, 0) END})) AS c
               FROM pre),
         ch AS (SELECT doc_id, c.cid AS chunk_id,
                  CAST(LEAST(12, n - c.s) AS BIGINT) AS n_words FROM g),
         cum AS (SELECT doc_id, chunk_id, n_words,
                   SUM(n_words) OVER (ORDER BY doc_id, chunk_id
                     ROWS UNBOUNDED PRECEDING) AS cum
                 FROM ch)
         SELECT CAST((cum - n_words) // 256 AS BIGINT) AS bin,
           COUNT(*) AS n_chunks,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens,
           COUNT(DISTINCT doc_id) AS n_docs
         FROM cum GROUP BY 1 ORDER BY 1""",
    "q97_pack" ->
      """WITH rec AS (
           SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, n_tokens,
                 SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum
               FROM rec)
         SELECT doc_id, n_tokens, CAST(cum AS BIGINT) AS cum_tokens,
           CAST((cum - n_tokens) // 512 AS BIGINT) AS bin
         FROM c ORDER BY doc_id""",
    "q30_dedup_exact" ->
      """SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
         FROM documents GROUP BY text ORDER BY keeper_id""",
    "q31_dedup_minhash" ->
      s"""WITH sh AS (${shingleRowsSql(derivedDocsSql)}),
          cnt AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY 1),
          inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
                    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
          SELECT id_a, id_b, i / (ca.c + cb.c - i) AS jaccard
          FROM inter
          JOIN cnt ca ON ca.doc_id = id_a
          JOIN cnt cb ON cb.doc_id = id_b
          WHERE i / (ca.c + cb.c - i) >= 0.6
          ORDER BY id_a, id_b""",
    "q56_dedup_stress" ->
      s"""WITH sh AS (${shingleRowsSql(stressCorpusSql)}),
          cnt AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY 1),
          inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
                    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
          SELECT id_a, id_b, i / (ca.c + cb.c - i) AS jaccard
          FROM inter
          JOIN cnt ca ON ca.doc_id = id_a
          JOIN cnt cb ON cb.doc_id = id_b
          WHERE i / (ca.c + cb.c - i) >= 0.9
          ORDER BY id_a, id_b""",
    "q33_ngram_jaccard" ->
      s"""WITH docs AS (SELECT doc_id, text, doc_id % 20 AS blk FROM ($derivedDocsSql)),
          sh AS (SELECT doc_id, UNNEST(list_distinct(
                   CASE WHEN len(w) >= 3
                        THEN list_transform(range(1, len(w) - 1),
                             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                        ELSE [text] END)) AS s
                 FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM docs)),
          cnt AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY 1),
          blks AS (SELECT doc_id, blk FROM docs),
          inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
                    FROM sh a JOIN blks ba ON a.doc_id = ba.doc_id
                    JOIN sh b JOIN blks bb ON b.doc_id = bb.doc_id
                      ON a.s = b.s AND a.doc_id < b.doc_id AND ba.blk = bb.blk
                    GROUP BY 1, 2)
          SELECT id_a, id_b, i / (ca.c + cb.c - i) AS jaccard
          FROM inter
          JOIN cnt ca ON ca.doc_id = id_a
          JOIN cnt cb ON cb.doc_id = id_b
          WHERE i / (ca.c + cb.c - i) >= 0.3
          ORDER BY id_a, id_b""",
    "q34_cosine_topk" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         q AS (SELECT * FROM v WHERE vec_id < 10),
         s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               FLOOR((list_dot_product(q.e, c.e) /
                 (SQRT(list_dot_product(q.e, q.e)) * SQRT(list_dot_product(c.e, c.e))))
                 * 1000000 + 0.5) / 1000000 AS cosine
               FROM q CROSS JOIN v c WHERE q.vec_id <> c.vec_id),
         r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS rk FROM s)
         SELECT query_id, neighbor_id, cosine, rk FROM r WHERE rk <= 5
         ORDER BY query_id, rk""",
    "q35_lang_id" ->
      """SELECT doc_id,
         CASE WHEN en >= es AND en >= fr AND en >= de THEN 'en'
              WHEN es >= fr AND es >= de THEN 'es'
              WHEN fr >= de THEN 'fr' ELSE 'de' END AS lang_pred,
         en AS n_en_markers
         FROM (SELECT doc_id,
           len(list_filter(string_split(text,' '), w -> w='the' OR w='a' OR w='of' OR w='and')) AS en,
           len(list_filter(string_split(text,' '), w -> w='el' OR w='la' OR w='los' OR w='de')) AS es,
           len(list_filter(string_split(text,' '), w -> w='le' OR w='la' OR w='les' OR w='des')) AS fr,
           len(list_filter(string_split(text,' '), w -> w='der' OR w='die' OR w='das' OR w='und')) AS de
           FROM documents)
         ORDER BY doc_id""",
    "q91_sketch_distinct" ->
      """SELECT source, COUNT(DISTINCT word) AS exact_vocab,
           TRUE AS sketch_within_5pct
         FROM (SELECT source, unnest(string_split(text, ' ')) AS word
               FROM documents)
         GROUP BY 1 ORDER BY 1""",
    "q106_strata_approx" ->
      """SELECT COUNT(*) AS n_total, TRUE AS any_kept, TRUE AS keep_rule_ok,
           TRUE AS strata_in_range, TRUE AS strata_ordered
         FROM documents""",
    "q112_split_assign" ->
      """SELECT COUNT(*) AS n_total, TRUE AS all_labeled,
           TRUE AS sizes_in_bounds, TRUE AS idempotent
         FROM documents""",
    "q114_line_signals" ->
      """WITH base AS (
           SELECT doc_id, string_split(text, '. ') AS arr FROM documents),
         w AS (SELECT doc_id, arr,
           list_transform(arr, l -> len(string_split(l, ' '))) AS wc,
           len(arr)::DOUBLE AS n FROM base)
         SELECT doc_id,
           len(arr)::BIGINT AS n_lines,
           FLOOR(list_sum(wc)::DOUBLE / n * 10000 + 0.5) / 10000 AS mean_line_words,
           FLOOR(len(list_filter(wc, c -> c < 3))::DOUBLE / n * 10000 + 0.5) / 10000
             AS frac_short_lines,
           FLOOR((n - len(list_distinct(arr))::DOUBLE) / n * 10000 + 0.5) / 10000
             AS frac_dup_lines
         FROM w ORDER BY doc_id""",
    "q111_heavy_hitters" ->
      """SELECT COUNT(*) AS n_words, TRUE AS size_within_capacity,
           TRUE AS no_overestimate, TRUE AS error_within_bound,
           TRUE AS all_heavy_reported
         FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         WHERE word <> ''""",
        "q126_incremental_curate" ->
      """WITH s AS (SELECT doc_id, text,
             len(string_split(text, ' '))::DOUBLE AS n,
             len(list_distinct(string_split(text, ' ')))::DOUBLE AS lnd
           FROM documents),
         q AS (SELECT doc_id,
             FLOOR(((lnd / n) * 0.4
                    + (LEAST(LENGTH(text)::DOUBLE / n, 8.0) / 8.0) * 0.3
                    + LEAST(n / 100.0, 1.0) * 0.3) * 10000 + 0.5) / 10000
               AS quality
           FROM s)
         SELECT (SELECT COUNT(*) FROM documents) AS n_batch,
           (SELECT COUNT(*) FROM q WHERE quality >= 0.5) AS n_quality_pass,
           TRUE AS no_reingested_kept, TRUE AS no_kept_exact_in_store,
           TRUE AS no_kept_exact_within, TRUE AS all_kept_pass_quality,
           TRUE AS append_rows_complete, TRUE AS kept_subset_of_batch""",
"q119_incremental_lsh" ->
      """SELECT (SELECT COUNT(*) FROM documents) AS n_batch,
           TRUE AS no_reingested_kept, TRUE AS no_kept_exact_in_store,
           TRUE AS no_kept_exact_within, TRUE AS kept_subset_of_batch""",
    "q127_incremental_lsh_indexed" ->
      """SELECT (SELECT COUNT(*) FROM documents) AS n_batch,
           TRUE AS no_reingested_kept, TRUE AS no_kept_exact_in_store,
           TRUE AS no_kept_exact_within, TRUE AS kept_subset_of_batch,
           TRUE AS indexed_equals_sig_path""",
    // q128: the loop invariants as Spark-checked booleans the oracle
    // states — the q119/q126 pattern; admit ids themselves are
    // hash-dependent AND batch-split-dependent (chain-pessimistic rule)
    "q128_ingest_loop" -> ingestLoopSql("n_rounds", "no_reingested_copy_admitted",
      "reingest_admits_nothing", "admits_subset_of_batches",
      "no_cross_round_exact", "no_cross_round_near",
      "index_equals_sigstore_bands", "wrong_manifest_fails",
      "admits_bounded_by_gate"),
    // q129: the durable-path invariants (parity with the in-session
    // loop, zero-Exchange post-append plans, manifest-table guard,
    // compact preservation)
    "q129_ingest_loop_tables" -> ingestLoopSql("n_rounds",
      "table_admits_equal_insession", "no_reingested_copy_admitted",
      "idx_agg_zero_exchange_post_append", "manifest_table_wrong_scheme_fails",
      "compact_preserves_index", "compact_one_file_per_bucket",
      "compact_zero_exchange", "admits_bounded_by_gate"),
    // q131: the streaming-replay booleans (invariants of the
    // foreachBatch body)
    "q131_streaming_ingest_replay" -> ingestLoopSql("n_batches",
      "table_admits_equal_insession", "no_reingested_copy_admitted",
      "delivered_equals_admitted", "ledgered_replay_noop",
      "new_batch_reingest_admits_nothing", "ledger_complete",
      "admits_bounded_by_gate"),
    // q132: SQL-derivable corpus/query counts + the persisted-index
    // invariants (Spark-checked: parity twins, plan assert, fail-loud
    // probe — the q42/q129 oracle pattern composed)
    "q132_ivf_index" ->
      """SELECT (SELECT COUNT(*) FROM embeddings) AS n_corpus,
           (SELECT COUNT(*) FROM embeddings WHERE vec_id < 10) AS n_queries,
           TRUE AS k_rows_each, TRUE AS rk_ordered, TRUE AS cosine_exact,
           TRUE AS index_matches_manifest_assign, TRUE AS flat_scan_parity,
           TRUE AS maintenance_zero_exchange, TRUE AS wrong_dim_fails""",
    // q130: SQL-derivable corpus size (+3 planted chain docs) + the
    // split-invariance booleans the mode guarantees (Spark-checked,
    // hash-deterministic under the fixed kernels — the LlmSpec fixture)
    "q130_split_invariant_ingest" ->
      """SELECT (SELECT COUNT(*) + 3 FROM documents WHERE doc_id < 1500)
             AS n_docs,
           TRUE AS split_equals_one_batch,
           TRUE AS chain_head_admitted,
           TRUE AS chain_tail_dropped_both,
           TRUE AS default_admits_tail_on_split""",
    "q118_quality_classifier" ->
      """SELECT (SELECT COUNT(*) FROM documents WHERE text IS NOT NULL) AS n_docs,
           (SELECT COUNT(*) FROM documents
            WHERE list_contains(string_split(text, ' '), 'spark')) AS n_pos,
           TRUE AS chance_loss_start, TRUE AS loss_decreased,
           TRUE AS val_accuracy_ge_base""",
    "q117_count_min" ->
      """SELECT word, COUNT(*) AS cnt, TRUE AS est_ge_exact,
           TRUE AS est_within_bound
         FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         WHERE word <> ''
         GROUP BY word ORDER BY cnt DESC, word LIMIT 20""",
    "q109_incremental_dedup" ->
      """WITH store AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
         batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
                   UNION ALL
                   SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents), text
                   FROM documents WHERE doc_id % 2 = 0),
         keep AS (SELECT text, MIN(doc_id) AS id FROM batch GROUP BY text)
         SELECT id FROM keep
         WHERE text NOT IN (SELECT text FROM store)
         ORDER BY id""",
    "q107_sentence_dedup" ->
      """WITH ls AS (SELECT doc_id, string_split(text, '. ') AS arr FROM documents),
         lines AS (SELECT doc_id, unnest(arr) AS line,
                   generate_subscripts(arr, 1) AS pos FROM ls),
         ranked AS (SELECT doc_id, pos, line,
                    ROW_NUMBER() OVER (PARTITION BY line
                      ORDER BY doc_id NULLS FIRST, pos) AS rn
                    FROM lines)
         SELECT doc_id, string_agg(line, '. ' ORDER BY pos) AS clean,
           COUNT(*) AS n_kept
         FROM ranked WHERE rn = 1
         GROUP BY doc_id ORDER BY doc_id""",
    "q116_bpe" ->
      """SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         200 AS n_merges_requested,
         TRUE AS merges_within_request,
         TRUE AS merges_deterministic,
         TRUE AS sample_encode_matches,
         TRUE AS roundtrip_byte_exact,
         TRUE AS all_multi_char_learned""",
    "q115_span_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         pos AS (SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM toks),
         grams AS (SELECT doc_id, i - 1 AS gpos,
                   array_to_string(t[i:i+7], chr(1)) AS g
                   FROM pos WHERE i + 7 <= len(t)),
         marked AS (SELECT doc_id, gpos,
                    ROW_NUMBER() OVER (PARTITION BY g
                      ORDER BY doc_id NULLS FIRST, gpos) AS rn,
                    COUNT(*) OVER (PARTITION BY g) AS c
                    FROM grams),
         bad AS (SELECT doc_id, gpos FROM marked WHERE c >= 2 AND rn > 1),
         tokpos AS (SELECT doc_id, i - 1 AS p, t[i] AS tok FROM pos),
         keep AS (SELECT tp.doc_id, tp.p, tp.tok FROM tokpos tp
                  WHERE NOT EXISTS (SELECT 1 FROM bad b
                        WHERE b.doc_id = tp.doc_id
                        AND b.gpos BETWEEN tp.p - 7 AND tp.p))
         SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean,
           COUNT(*) AS n_kept
         FROM keep GROUP BY doc_id ORDER BY doc_id""",
    "q108_vocab" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
         cnts AS (SELECT word, COUNT(*) AS cnt FROM toks WHERE word <> '' GROUP BY 1),
         tot AS (SELECT SUM(cnt)::DOUBLE AS total FROM cnts),
         top AS (SELECT word, cnt,
                 ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rank
                 FROM cnts ORDER BY cnt DESC, word LIMIT 100)
         SELECT rank, word, cnt,
           FLOOR((SUM(cnt) OVER (ORDER BY rank))::DOUBLE
                 / (SELECT total FROM tot) * 1000000 + 0.5) / 1000000 AS cum_coverage
         FROM top ORDER BY rank""",
    "q90_stratified_sample" ->
      """WITH scored AS (SELECT doc_id,
           FLOOR(((lnd / n) * 0.4
             + (LEAST(nch / n, 8.0) / 8.0) * 0.3
             + LEAST(n / 100.0, 1.0) * 0.3) * 10000 + 0.5) / 10000 AS quality
           FROM (SELECT doc_id,
             len(string_split(text,' '))::DOUBLE AS n,
             len(list_distinct(string_split(text,' ')))::DOUBLE AS lnd,
             LENGTH(text)::DOUBLE AS nch
             FROM documents)),
         rn AS (SELECT doc_id, quality,
           ROW_NUMBER() OVER (ORDER BY quality, doc_id) AS rn,
           COUNT(*) OVER () AS n FROM scored),
         st AS (SELECT doc_id, quality,
           CAST(FLOOR(10 * (rn - 1)::DOUBLE / n::DOUBLE) AS INT) AS stratum
           FROM rn)
         SELECT doc_id, stratum, quality FROM st
         WHERE doc_id % 10 < stratum + 1 ORDER BY doc_id""",
    "q36_quality" ->
      """SELECT doc_id,
         FLOOR(((lnd / n) * 0.4
           + (LEAST(LENGTH(text)::DOUBLE / n, 8.0) / 8.0) * 0.3
           + LEAST(n / 100.0, 1.0) * 0.3) * 10000 + 0.5) / 10000 AS quality,
         FLOOR((nstop / n) * 10000 + 0.5) / 10000 AS stopword_ratio
         FROM (SELECT doc_id, text,
           len(string_split(text,' '))::DOUBLE AS n,
           len(list_distinct(string_split(text,' ')))::DOUBLE AS lnd,
           len(list_filter(string_split(text,' '),
             w -> w='the' OR w='a' OR w='of' OR w='and' OR w='to' OR w='in'))::DOUBLE AS nstop
           FROM documents)
         ORDER BY doc_id""",
    "q37_token_counts" ->
      """SELECT source,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_ws_tokens,
         CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS sum_re_tokens,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY 1 ORDER BY 1""",
    "q38_fingerprint" ->
      """SELECT doc_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(text, ''), c -> ord(c))),
           (h, c) -> (h * 31 + c) % 2147483647)::BIGINT AS fp
         FROM documents ORDER BY doc_id""",
    "q39_ann_lsh" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
          b AS (SELECT vec_id, e, ${bucketSql(6)} AS bucket FROM v),
          q AS (SELECT * FROM b WHERE vec_id < 10),
          s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                FLOOR((list_dot_product(q.e, c.e) /
                  (SQRT(list_dot_product(q.e, q.e)) * SQRT(list_dot_product(c.e, c.e))))
                  * 1000000 + 0.5) / 1000000 AS cosine
                FROM q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id),
          r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id) AS rk FROM s)
          SELECT query_id, neighbor_id, cosine, rk FROM r WHERE rk <= 5
          ORDER BY query_id, rk""",
    "q80_ann_multitable" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
          b AS (SELECT vec_id, 0 AS tbl, ${bucketSql(8, 0)} AS bucket FROM v
                UNION ALL
                SELECT vec_id, 1 AS tbl, ${bucketSql(8, 8)} AS bucket FROM v
                UNION ALL
                SELECT vec_id, 2 AS tbl, ${bucketSql(8, 16)} AS bucket FROM v),
          q AS (SELECT * FROM b WHERE vec_id < 10),
          cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
                   FROM q JOIN b c
                   ON q.tbl = c.tbl AND q.bucket = c.bucket
                      AND q.vec_id <> c.vec_id),
          s AS (SELECT query_id, neighbor_id,
                FLOOR((list_dot_product(vq.e, vc.e) /
                  (SQRT(list_dot_product(vq.e, vq.e)) * SQRT(list_dot_product(vc.e, vc.e))))
                  * 1000000 + 0.5) / 1000000 AS cosine
                FROM cand
                JOIN v vq ON vq.vec_id = query_id
                JOIN v vc ON vc.vec_id = neighbor_id),
          r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id) AS rk FROM s)
          SELECT query_id, neighbor_id, cosine, rk FROM r WHERE rk <= 5
          ORDER BY query_id, rk""",
    // NOTE: this reconstruction uses CHARACTER functions (LENGTH,
    // SUBSTRING, ord-per-char) while packPpm/extractFeatures operate on
    // UTF-8 BYTES; the two derivations coincide exactly because the
    // test corpus is ASCII (1 char = 1 byte = 1 codepoint). On
    // non-ASCII text the byte-based packer stays self-consistent (valid
    // P6) but this char-based SQL would diverge.
    "q113_audio_features" ->
      """SELECT doc_id AS media_id,
           (44 + (bl % 50 + 10) * (bl % 2 + 1) * 2)::BIGINT AS n_bytes,
           (8000 + (bl % 4) * 4000)::INTEGER AS sample_rate,
           (bl % 2 + 1)::INTEGER AS n_channels,
           16::INTEGER AS bits,
           (((bl % 50 + 10) * (bl % 2 + 1) * 2) * 1000
             // ((8000 + (bl % 4) * 4000) * (bl % 2 + 1) * 2))::BIGINT
             AS duration_ms
         FROM (SELECT doc_id,
                 CASE WHEN text IS NULL OR text = '' THEN 1
                      ELSE LENGTH(text) END AS bl
               FROM documents)
         ORDER BY media_id""",
    "q40_multimodal" ->
      """WITH src AS (
           SELECT doc_id,
             CASE WHEN text IS NULL OR LENGTH(text) = 0 THEN ' ' ELSE text END AS t
           FROM documents),
         d AS (
           SELECT doc_id, t,
             LENGTH(t) % 16 + 1 AS w, LENGTH(t) % 8 + 1 AS h
           FROM src),
         p AS (
           SELECT doc_id, w, h,
             'P6' || chr(10) || w || ' ' || h || chr(10) || '255' || chr(10) AS hdr,
             SUBSTRING(REPEAT(t, CAST(CEIL((w * h * 3) * 1.0 / LENGTH(t)) AS BIGINT)),
               1, w * h * 3) AS pixels
           FROM d)
         SELECT doc_id AS media_id,
           LENGTH(hdr || pixels)::BIGINT AS n_bytes,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(hdr || pixels, ''), c -> ord(c))),
             (acc, c) -> (acc * 31 + c) % 2147483647)::BIGINT AS checksum,
           array_to_string(list_transform(range(0, 16),
             b -> len(list_filter(string_split(pixels, ''), c -> ord(c) // 16 = b))::BIGINT), ',') AS histogram,
           w::INTEGER AS width, h::INTEGER AS height
         FROM p ORDER BY media_id""",
    // same ASCII-corpus scope note as q40; branch = doc_id % 3
    // (0 = PPM 3-channel, 1 = PGM 1-channel, 2 = raw/unrecognized)
    "q81_multimodal_mixed" ->
      """WITH src AS (
           SELECT doc_id, doc_id % 3 AS br,
             CASE WHEN text IS NULL OR LENGTH(text) = 0 THEN ' ' ELSE text END AS t,
             COALESCE(text, '') AS rawt
           FROM documents),
         d AS (
           SELECT doc_id, br, t, rawt,
             LENGTH(t) % 16 + 1 AS w, LENGTH(t) % 8 + 1 AS h
           FROM src),
         p AS (
           SELECT doc_id, br,
             CASE WHEN br = 2 THEN 0 ELSE w END AS w,
             CASE WHEN br = 2 THEN 0 ELSE h END AS h,
             CASE WHEN br = 0 THEN 'P6' || chr(10) || w || ' ' || h || chr(10) || '255' || chr(10)
                  WHEN br = 1 THEN 'P5' || chr(10) || w || ' ' || h || chr(10) || '255' || chr(10)
                  ELSE '' END AS hdr,
             CASE WHEN br = 0 THEN SUBSTRING(REPEAT(t, CAST(CEIL((w * h * 3) * 1.0 / LENGTH(t)) AS BIGINT)), 1, w * h * 3)
                  WHEN br = 1 THEN SUBSTRING(REPEAT(t, CAST(CEIL((w * h) * 1.0 / LENGTH(t)) AS BIGINT)), 1, w * h)
                  ELSE rawt END AS pixels
           FROM d)
         SELECT doc_id AS media_id,
           LENGTH(hdr || pixels)::BIGINT AS n_bytes,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(hdr || pixels, ''), c -> ord(c))),
             (acc, c) -> (acc * 31 + c) % 2147483647)::BIGINT AS checksum,
           array_to_string(list_transform(range(0, 16),
             b -> len(list_filter(string_split(pixels, ''), c -> ord(c) // 16 = b))::BIGINT), ',') AS histogram,
           w::INTEGER AS width, h::INTEGER AS height
         FROM p ORDER BY media_id""",
    "q41_frame_sample" ->
      """SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
         CAST(LEAST(256, len - frame_idx * 256) AS INTEGER) AS frame_len
         FROM (SELECT doc_id AS media_id, LENGTH(text) AS len,
               UNNEST(list_filter(range(0, (LENGTH(text) - 1) // 256 + 1),
                 i -> i % 4 = 0)) AS frame_idx
               FROM documents)
         ORDER BY media_id, frame_idx""",
    "q49_pipeline" ->
      """WITH scored AS (
           SELECT doc_id, text, source,
             FLOOR(((lnd / n) * 0.4
               + (LEAST(LENGTH(text)::DOUBLE / n, 8.0) / 8.0) * 0.3
               + LEAST(n / 100.0, 1.0) * 0.3) * 10000 + 0.5) / 10000 AS quality
           FROM (SELECT doc_id, text, source,
                 len(string_split(text,' '))::DOUBLE AS n,
                 len(list_distinct(string_split(text,' ')))::DOUBLE AS lnd
                 FROM documents)),
         filtered AS (SELECT * FROM scored WHERE quality >= 0.5),
         keepers AS (SELECT MIN(doc_id) AS doc_id FROM filtered GROUP BY text)
         SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
           (SUM(CAST(quality AS DECIMAL(18,4))))::DOUBLE AS sum_quality
         FROM filtered JOIN keepers USING (doc_id)
         GROUP BY 1 ORDER BY 1""",
    "q43_embed_neardup" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
          b AS (SELECT vec_id, e, ${bucketSql(8)} AS bucket FROM v),
          s AS (SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
                FLOOR((list_dot_product(a.e, bb.e) /
                  (SQRT(list_dot_product(a.e, a.e)) * SQRT(list_dot_product(bb.e, bb.e))))
                  * 1000000 + 0.5) / 1000000 AS cosine
                FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id)
          SELECT id_a, id_b, cosine FROM s WHERE cosine >= 0.4
          ORDER BY id_a, id_b""",
    "q79_embed_multiprobe" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
          b AS (SELECT vec_id, 0 AS tbl, ${bucketSql(8, 0)} AS bucket FROM v
                UNION ALL
                SELECT vec_id, 1 AS tbl, ${bucketSql(8, 8)} AS bucket FROM v
                UNION ALL
                SELECT vec_id, 2 AS tbl, ${bucketSql(8, 16)} AS bucket FROM v),
          cand AS (SELECT DISTINCT a.vec_id AS id_a, bb.vec_id AS id_b
                   FROM b a JOIN b bb
                   ON a.tbl = bb.tbl AND a.bucket = bb.bucket
                      AND a.vec_id < bb.vec_id),
          s AS (SELECT id_a, id_b,
                FLOOR((list_dot_product(va.e, vb.e) /
                  (SQRT(list_dot_product(va.e, va.e)) * SQRT(list_dot_product(vb.e, vb.e))))
                  * 1000000 + 0.5) / 1000000 AS cosine
                FROM cand
                JOIN v va ON va.vec_id = id_a
                JOIN v vb ON vb.vec_id = id_b)
          SELECT id_a, id_b, cosine FROM s WHERE cosine >= 0.4
          ORDER BY id_a, id_b""",
    "q120_quantile_sketch" ->
      """SELECT CAST(phi AS DOUBLE) AS phi,
           (SELECT COUNT(*) FROM lineitem) AS n,
           TRUE AS weight_exact, TRUE AS within_bound
         FROM (VALUES (0.01), (0.25), (0.50), (0.75), (0.99)) t(phi)
         ORDER BY phi""",
    "q121_bm25" ->
      """WITH q(qid, term) AS (VALUES
           (1,'table'),(1,'scan'),(1,'filter'),
           (2,'group'),(2,'agg'),(2,'value'),
           (3,'join'),(3,'key'),(3,'hash'),
           (4,'stream'),(4,'window'),(4,'batch')),
         toks AS (SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term
                  FROM documents),
         tf AS (SELECT doc, term, COUNT(*) AS tf FROM toks
                WHERE term <> '' GROUP BY 1, 2),
         dl AS (SELECT doc, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         stats AS (SELECT COUNT(*) AS n_docs,
                     CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
         dfreq AS (SELECT term, COUNT(*) AS df FROM tf
                   WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.qid, tf.doc,
             CAST(SUM(CAST(FLOOR(
               (LN(1 + (n_docs - df + 0.5) / (df + 0.5)) *
                ((tf * (1.2 + 1)) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))))
               * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS score_nano
           FROM tf JOIN q USING (term) JOIN dfreq USING (term)
                JOIN dl USING (doc), stats
           GROUP BY 1, 2),
         ranked AS (SELECT qid, doc, score_nano,
           ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY score_nano DESC, doc) AS rn FROM scored)
         SELECT qid, CAST(rn AS INTEGER) AS rank, doc, score_nano
         FROM ranked WHERE rn <= 10 ORDER BY qid, rank""",
    "q123_weighted_sample" ->
      """SELECT 50 AS k, CAST(50 AS BIGINT) AS n_selected,
           CAST(50 AS BIGINT) AS n_distinct,
           TRUE AS subset_weights_ok, TRUE AS topk_ok""",
    "q125_token_pack" ->
      """WITH base AS (SELECT doc_id,
             len(string_split(text, ' ')) AS n
           FROM documents WHERE text IS NOT NULL)
         SELECT (SELECT COUNT(*) FROM base) AS n_docs,
           (SELECT CAST(SUM(CASE WHEN n <= 12 THEN 1
                ELSE CAST(CEIL((n - 12) / 8.0) AS BIGINT) + 1 END) AS BIGINT)
            FROM base) AS n_chunks,
           TRUE AS sample_encode_matches, TRUE AS prefix_sum_exact,
           TRUE AS bins_in_window, TRUE AS tokens_ge_words""",
    "q124_normalize" ->
      """WITH n AS (SELECT doc_id,
           trim(regexp_replace(strip_accents(lower(
             '  Fast-Track CAFÉ' || chr(9) || text ||
             '  Déjà  Vu,  Naïve ÜBER!  ')), '\s+', ' ', 'g')) AS norm
         FROM documents)
         SELECT doc_id, norm,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(norm, ''), c -> ord(c))),
             (h, c) -> (h * 31 + c) % 2147483647)::BIGINT AS norm_fp
         FROM n ORDER BY doc_id"""
  )
}
