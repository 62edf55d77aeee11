package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.llm.{Curate, Dedup}
import graft.ops.Bucketed
import graft.queries.QCommon

/** Streaming continuous ingest (r20, VERDICT task 1): Curate.streamingIngest
  * = foreachBatch(Curate.ingestBatch) against the durable bucketed store
  * tables. The load-bearing assertions: admit PARITY with the q128/q129
  * in-session batch loop on the SAME batch sequence (both admit modes),
  * the ledger's exactly-once batch skip, and the wiring-time fail-loud
  * contract. The RECACHE hazard (persist()ed admit frames recomputing
  * against half-mutated stores) is what the parity test would catch —
  * BucketedSpec pins the mechanism in isolation.
  */
class CurateStreamSpec extends SparkSuite {
  import spark.implicits._

  private val B = 2
  private def mkTables(prefix: String): (String, String, String, String, String) = {
    val (fpT, sigT, idxT, manT, ledT) =
      (s"${prefix}_fp", s"${prefix}_sig", s"${prefix}_idx", s"${prefix}_man", s"${prefix}_led")
    val d0 = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val (fp0, sig0, idx0) = Curate.emptyStores(d0, "doc_id", "text")
    Bucketed.writeBucketed(fp0, fpT, Seq("fp_a"), B)
    Bucketed.writeBucketed(sig0, sigT, Seq("id"), B)
    Bucketed.writeBucketed(idx0, idxT, Seq("band", "key"), B)
    spark.sql(s"DROP TABLE IF EXISTS $manT")
    Dedup.lshManifest(spark).write.format("parquet").saveAsTable(manT)
    spark.sql(s"DROP TABLE IF EXISTS $ledT")
    (fpT, sigT, idxT, manT, ledT)
  }
  private def dropTables(prefix: String): Unit =
    Seq("fp", "sig", "idx", "man", "led").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$s"))

  // the LlmSpec incrementalCurate fixture texts, as three stream batches
  private val good = (1 to 60).map(i => s"w$i").mkString(" ")
  private val other = (1 to 60).map(i => s"v$i").mkString(" ")
  private val nearGood = ((1 to 59).map(i => s"w$i") :+ "CHANGED").mkString(" ")
  private val novel = (1 to 60).map(i => s"z$i").mkString(" ")
  private val novel2 = (1 to 60).map(i => s"y$i").mkString(" ")
  private val batches: Seq[Seq[(Long, String)]] = Seq(
    Seq((1L, good), (3L, "spam spam spam spam")),          // 3 fails the gate
    Seq((11L, good), (13L, nearGood), (17L, other), (19L, other)),
    Seq((21L, other), (23L, novel), (25L, nearGood)))
  // expected drops: 11 exact-vs-store, 13 near-vs-store, 19 within-batch
  // exact, 21 exact-vs-store, 25 near-vs-store (default mode) / exact-sig
  // copy of seen rep 13 (split-invariant mode — dropped either way)

  /** The hand-rolled in-session twin, the independent reference for
    * both `ingestBatch` and [[Curate.SessionStores]]: same batches,
    * localCheckpoint stores, the Curate append contract per admit mode
    * written out here. Returns (admit ids, seen-rep sig ids). */
  private def batchLoop(splitInv: Boolean): (Set[Long], Set[Long]) = {
    val d0 = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val (fp0, sig0, _) = Curate.emptyStores(d0, "doc_id", "text")
    var fp = fp0.localCheckpoint()
    var sig = sig0.localCheckpoint()
    var admits = Set.empty[Long]
    try {
      batches.foreach { rows =>
        val res = Curate.incrementalCurate(rows.toDF("doc_id", "text"),
            "doc_id", "text", fp, sig, threshold = 0.5,
            splitInvariant = splitInv)
          .localCheckpoint()
        val adm = if (splitInv) res.filter($"admitted") else res
        admits ++= adm.select("id").as[Long].collect()
        fp = fp.unionByName(adm.select($"fp_a", $"fp_b")).localCheckpoint()
        sig = sig.unionByName(
          (if (splitInv) res else adm).select($"id", $"sig")).localCheckpoint()
      }
      (admits, sig.select("id").as[Long].collect().toSet)
    } finally graft.dsl.Rel.releaseTracked()
  }

  /** The same batches through [[Curate.SessionStores]]. Returns (admit
    * ids, seen-rep sig ids, sig rows, idx ≡ lshBandIndex(sig) — true
    * when not `indexed`). */
  private def sessionLoop(splitInv: Boolean, indexed: Boolean)
      : (Set[Long], Set[Long], Long, Boolean) = {
    val d0 = Seq.empty[(Long, String)].toDF("doc_id", "text")
    var st = Curate.SessionStores.empty(d0, "doc_id", "text", indexed = indexed)
    var admits = Set.empty[Long]
    try {
      batches.foreach { rows =>
        val (res, next) = st.ingest(rows.toDF("doc_id", "text"),
          threshold = 0.5, splitInvariant = splitInv)
        st = next
        admits ++= (if (splitInv) res.filter($"admitted") else res)
          .select("id").as[Long].collect()
      }
      (admits, st.sig.select("id").as[Long].collect().toSet, st.sig.count(),
        st.idx.forall(QCommon.multisetEqual(_, Dedup.lshBandIndex(st.sig))))
    } finally graft.dsl.Rel.releaseTracked()
  }

  /** Asserts that [[sessionLoop]], indexed and not, matches the batch
    * loop's admits and seen reps. */
  private def assertSessionParity(splitInv: Boolean, admits: Set[Long],
                                  seen: Set[Long]): Unit =
    for (indexed <- Seq(false, true)) {
      val (a, sn, nSig, idxOk) = sessionLoop(splitInv, indexed)
      assert(a == admits && sn == seen,
        s"SessionStores(indexed=$indexed): admits $a seen $sn vs $admits $seen")
      assert(nSig == seen.size.toLong, s"SessionStores(indexed=$indexed): $nSig sig rows")
      assert(idxOk, s"SessionStores(indexed=$indexed): idx != lshBandIndex(sig)")
    }

  private def runStream(prefix: String, splitInv: Boolean,
                        onAdmitted: (DataFrame, Long) => Unit = (_, _) => ())
      : Unit = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = Curate.streamingIngest(input.toDF().toDF("doc_id", "text"),
        "doc_id", "text", s"${prefix}_fp", s"${prefix}_sig", s"${prefix}_idx",
        buckets = B, manifestTable = Some(s"${prefix}_man"),
        ledgerTable = Some(s"${prefix}_led"), threshold = 0.5,
        splitInvariant = splitInv, onAdmitted = onAdmitted)
      .start()
    try batches.foreach { rows =>
      input.addData(rows: _*) // one micro-batch per addData
      q.processAllAvailable()
    } finally q.stop()
  }

  test("streamingIngest: admit parity with the in-session batch loop (default mode)") {
    val p = "gstr_d"
    mkTables(p)
    try {
      var delivered = Set.empty[Long]
      runStream(p, splitInv = false,
        onAdmitted = (df, _) => delivered ++= df.select("id").as[Long].collect())
      val (memAdmits, memSeen) = batchLoop(splitInv = false)
      assertSessionParity(splitInv = false, memAdmits, memSeen)
      val tblAdmits = spark.table(s"${p}_sig").select("id").as[Long].collect().toSet
      assert(tblAdmits == memAdmits,
        s"stream $tblAdmits vs batch loop $memAdmits")
      assert(delivered == memAdmits, s"onAdmitted delivered $delivered")
      assert(memAdmits == Set(1L, 17L, 23L))
      // fp table: one row per admit; ledger: one row per micro-batch
      assert(spark.table(s"${p}_fp").count() == memAdmits.size.toLong)
      assert(spark.table(s"${p}_led").select("batch_id").as[Long]
        .collect().toSet == Set(0L, 1L, 2L))
      // appended index ≡ index of the appended sig table
      val full = Dedup.lshBandIndex(spark.table(s"${p}_sig"))
      assert(spark.table(s"${p}_idx").exceptAll(full).count() == 0L &&
        full.exceptAll(spark.table(s"${p}_idx")).count() == 0L)
    } finally dropTables(p)
  }

  test("streamingIngest: admit parity + seen-rep store growth (split-invariant mode)") {
    val p = "gstr_si"
    mkTables(p)
    try {
      runStream(p, splitInv = true)
      val (memAdmits, memSeen) = batchLoop(splitInv = true)
      assertSessionParity(splitInv = true, memAdmits, memSeen)
      val tblSeen = spark.table(s"${p}_sig").select("id").as[Long].collect().toSet
      // fp rows are admit-only, sig rows cover every SEEN rep
      assert(tblSeen == memSeen, s"stream seen $tblSeen vs batch $memSeen")
      assert(spark.table(s"${p}_fp").count() == memAdmits.size.toLong)
      // the mode's point: non-admitted seen reps (13) are in the store
      assert((tblSeen -- memAdmits).nonEmpty)
      assert(memAdmits == Set(1L, 17L, 23L))
    } finally dropTables(p)
  }

  test("ingestBatch: a ledgered batch id replays as a no-op; re-ingest admits nothing") {
    val p = "gstr_rp"
    mkTables(p)
    try {
      def counts() = Seq("fp", "sig", "idx", "led")
        .map(s => spark.table(s"${p}_$s").count())
      val b0 = batches(1).toDF("doc_id", "text")
      Curate.ingestBatch(b0, 0L, "doc_id", "text", s"${p}_fp", s"${p}_sig",
        s"${p}_idx", B, ledgerTable = Some(s"${p}_led"), threshold = 0.5)
      val after = counts()
      assert(after == Seq(2L, 2L, 32L, 1L), after.toString) // 17+"good"(11, min id... ) admits
      // exactly-once: same batch id again → every count unchanged
      Curate.ingestBatch(b0, 0L, "doc_id", "text", s"${p}_fp", s"${p}_sig",
        s"${p}_idx", B, ledgerTable = Some(s"${p}_led"), threshold = 0.5)
      assert(counts() == after)
      // a NEW batch id with already-stored docs admits nothing — the
      // closed-loop property through the table-backed stores (only the
      // ledger row is added)
      Curate.ingestBatch(b0.select(($"doc_id" + 100L).as("doc_id"), $"text"),
        1L, "doc_id", "text", s"${p}_fp", s"${p}_sig",
        s"${p}_idx", B, ledgerTable = Some(s"${p}_led"), threshold = 0.5)
      assert(counts() == after.init :+ (after.last + 1L))
    } finally dropTables(p)
  }

  test("crash window after idx append: replay admits the SAME set and re-appends NO index rows") {
    // simulate ingestBatch dying between its idx append and sig append,
    // then the foreachBatch replay re-running the whole batch. r21: the
    // (band, key, id) anti-join against the idx table makes the replay
    // append NOTHING there, so index ≡ lshBandIndex(sig) survives this
    // window too (pre-fix the replay doubled every band row)
    val p = "gstr_c1"
    mkTables(p)
    try {
      val batch = batches(1).toDF("doc_id", "text")
      // partial first attempt: idx rows land, sig/fp never do
      val res0 = Curate.incrementalCurate(batch, "doc_id", "text",
          spark.table(s"${p}_fp"), spark.table(s"${p}_sig"), threshold = 0.5)
        .localCheckpoint()
      val firstAdmits = res0.select("id").as[Long].collect().toSet
      Bucketed.appendBucketed(
        Dedup.lshBandIndex(res0.select($"id", $"sig")),
        s"${p}_idx", Seq("band", "key"), B)
      graft.dsl.Rel.releaseTracked(blocking = true)
      // replay: the full batch function, fresh
      var replayed = Set.empty[Long]
      Curate.ingestBatch(batch, 0L, "doc_id", "text", s"${p}_fp", s"${p}_sig",
        s"${p}_idx", B, ledgerTable = Some(s"${p}_led"), threshold = 0.5,
        onAdmitted = (df, _) => replayed = df.select("id").as[Long].collect().toSet)
      assert(replayed == firstAdmits, s"replay $replayed vs first $firstAdmits")
      // stores correct; the index is duplicate-free and still ≡ the
      // index of the sig table (the invariant the anti-join preserves)
      assert(spark.table(s"${p}_sig").select("id").as[Long].collect().toSet
        == firstAdmits)
      assert(spark.table(s"${p}_fp").count() == firstAdmits.size.toLong)
      val idx = spark.table(s"${p}_idx")
      assert(idx.count() == firstAdmits.size.toLong * 16)
      val full = Dedup.lshBandIndex(spark.table(s"${p}_sig"))
      assert(idx.exceptAll(full).count() == 0L &&
        full.exceptAll(idx).count() == 0L)
      // decisions unchanged downstream: a later batch resending the
      // docs under new ids admits nothing against the now-duplicate-
      // free index (the r21 (band, key, id) anti-join means the replay
      // left no dup rows for this batch to tolerate)
      Curate.ingestBatch(batch.select(($"doc_id" + 100L).as("doc_id"), $"text"),
        1L, "doc_id", "text", s"${p}_fp", s"${p}_sig",
        s"${p}_idx", B, ledgerTable = Some(s"${p}_led"), threshold = 0.5)
      assert(spark.table(s"${p}_sig").select("id").as[Long].collect().toSet
        == firstAdmits)
    } finally dropTables(p)
  }

  test("crash window after sig append: replay admits nothing; exact copies drop one stage later") {
    // the other documented window — sig (and idx) landed, fp did not:
    // the replay's own docs est-Jaccard 1 against their stored sigs
    val p = "gstr_c2"
    mkTables(p)
    try {
      val batch = batches(1).toDF("doc_id", "text")
      val res0 = Curate.incrementalCurate(batch, "doc_id", "text",
          spark.table(s"${p}_fp"), spark.table(s"${p}_sig"), threshold = 0.5)
        .localCheckpoint()
      val firstAdmits = res0.select("id").as[Long].collect().toSet
      Bucketed.appendBucketed(
        Dedup.lshBandIndex(res0.select($"id", $"sig")),
        s"${p}_idx", Seq("band", "key"), B)
      Bucketed.appendBucketed(res0.select($"id", $"sig"),
        s"${p}_sig", Seq("id"), B)
      graft.dsl.Rel.releaseTracked(blocking = true)
      var replayed = Set(-1L)
      Curate.ingestBatch(batch, 0L, "doc_id", "text", s"${p}_fp", s"${p}_sig",
        s"${p}_idx", B, ledgerTable = Some(s"${p}_led"), threshold = 0.5,
        onAdmitted = (df, _) => replayed = df.select("id").as[Long].collect().toSet)
      assert(replayed.isEmpty, s"replay admitted $replayed")
      // fp rows are MISSING for this batch (the documented degradation)
      assert(spark.table(s"${p}_fp").count() == 0L)
      // ...but an exact copy is still rejected — by the near stage at
      // est 1 instead of the exact stage (decision-equivalent)
      Curate.ingestBatch(batch.select(($"doc_id" + 100L).as("doc_id"), $"text"),
        1L, "doc_id", "text", s"${p}_fp", s"${p}_sig",
        s"${p}_idx", B, ledgerTable = Some(s"${p}_led"), threshold = 0.5)
      assert(spark.table(s"${p}_sig").select("id").as[Long].collect().toSet
        == firstAdmits)
    } finally dropTables(p)
  }

  test("split-invariant crash window after sig append: replay re-appends nothing — sig/idx stay duplicate-free") {
    // in split-invariant mode the result frame holds every SEEN rep,
    // so pre-fix this window's replay re-appended a FULL copy of the
    // batch's (id, sig) and index rows; ingestBatch's anti-join by id
    // against the sig store makes the replay a no-op for both tables
    val p = "gstr_c3"
    mkTables(p)
    try {
      val batch = batches(1).toDF("doc_id", "text")
      val res0 = Curate.incrementalCurate(batch, "doc_id", "text",
          spark.table(s"${p}_fp"), spark.table(s"${p}_sig"), threshold = 0.5,
          splitInvariant = true)
        .localCheckpoint()
      val seen0 = res0.select("id").as[Long].collect().toSet
      assert(seen0 == Set(11L, 13L, 17L)) // 19 = within-batch exact dup of 17
      Bucketed.appendBucketed(
        Dedup.lshBandIndex(res0.select($"id", $"sig")),
        s"${p}_idx", Seq("band", "key"), B)
      Bucketed.appendBucketed(res0.select($"id", $"sig"),
        s"${p}_sig", Seq("id"), B)
      graft.dsl.Rel.releaseTracked(blocking = true)
      Curate.ingestBatch(batch, 0L, "doc_id", "text", s"${p}_fp", s"${p}_sig",
        s"${p}_idx", B, ledgerTable = Some(s"${p}_led"), threshold = 0.5,
        splitInvariant = true)
      val sig = spark.table(s"${p}_sig")
      assert(sig.count() == seen0.size.toLong, "sig rows duplicated on replay")
      assert(sig.select("id").as[Long].collect().toSet == seen0)
      // index ≡ lshBandIndex(sig) SURVIVES this window in this mode
      val full = Dedup.lshBandIndex(sig)
      assert(spark.table(s"${p}_idx").exceptAll(full).count() == 0L &&
        full.exceptAll(spark.table(s"${p}_idx")).count() == 0L)
      // the same fp degradation as default mode (documented)
      assert(spark.table(s"${p}_fp").count() == 0L)
      // a later batch re-sending a seen rep's text under a new id still
      // appends exactly one seen-rep row (edge (2) — the anti-join is
      // by id, so cross-batch copies keep their documented semantics)
      Curate.ingestBatch(Seq((117L, other)).toDF("doc_id", "text"),
        1L, "doc_id", "text", s"${p}_fp", s"${p}_sig",
        s"${p}_idx", B, ledgerTable = Some(s"${p}_led"), threshold = 0.5,
        splitInvariant = true)
      assert(spark.table(s"${p}_sig").select("id").as[Long].collect().toSet
        == seen0 + 117L)
    } finally dropTables(p)
  }

  test("ingestBatch: no cached plan over the store tables is left once the result is checkpointed") {
    val p = "gstr_cm"
    val (fpT, sigT, idxT, manT, ledT) = mkTables(p)
    val stores = Set(fpT, sigT, idxT)
    // the session's cached plans (CacheManager keeps its list private)
    def cachedStoreReads(): Seq[String] = {
      val cm = spark.sharedState.cacheManager
      val m = cm.getClass.getDeclaredMethod("cachedData")
      m.setAccessible(true)
      m.invoke(cm).asInstanceOf[Seq[org.apache.spark.sql.execution.CachedData]]
        .flatMap(_.plan.collectLeaves().collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation
              if r.catalogTable.exists(t => stores(t.identifier.table)) =>
            r.catalogTable.get.identifier.table
        })
    }
    try {
      val seen = scala.collection.mutable.Buffer[Seq[String]]()
      batches.zipWithIndex.foreach { case (rows, i) =>
        Curate.ingestBatch(rows.toDF("doc_id", "text"), i.toLong, "doc_id", "text",
          fpT, sigT, idxT, B, manifestTable = Some(manT), ledgerTable = Some(ledT),
          threshold = 0.5, onAdmitted = (_, _) => seen += cachedStoreReads())
      }
      assert(seen.size == batches.size && seen.forall(_.isEmpty), seen.toString)
    } finally dropTables(p)
  }

  test("ingestBatch compiles no generated class once a batch of the same shape has run") {
    // the codegen cache bound (Graft.configure) holds a batch's working
    // set, and the ledger check's generated code does not depend on the
    // batch id; with Spark's 100-entry default every batch recompiled
    // ~90 classes
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Graft.CodegenCacheEntries.toString)
    val p = "gstr_cg"
    val (fpT, sigT, idxT, manT, ledT) = mkTables(p)
    def compiles() =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // each batch: fresh docs, an exact copy and a near copy of the
    // previous batch's docs (store hits), a within-batch copy, a gate fail
    def batch(b: Int): Seq[(Long, String)] = {
      def doc(i: Int) = (1 to 40).map(w => s"b${i}w$w").mkString(" ")
      val fresh = (0 until 4).map(j => (b * 100L + j, doc(b * 10 + j)))
      val prev = if (b == 0) Nil else Seq(
        (b * 100L + 50, doc((b - 1) * 10)),
        (b * 100L + 51, doc((b - 1) * 10 + 1).replace("w20 ", "X20 ")))
      fresh ++ prev ++ Seq((b * 100L + 60, fresh.head._2),
        (b * 100L + 61, "spam spam spam spam"))
    }
    try {
      val added = (0 until 3).map { b =>
        val c0 = compiles()
        Curate.ingestBatch(batch(b).toDF("doc_id", "text"), b.toLong, "doc_id", "text",
          fpT, sigT, idxT, B, manifestTable = Some(manT), ledgerTable = Some(ledT),
          threshold = 0.5)
        compiles() - c0
      }
      assert(spark.table(fpT).count() == 12L) // 4 fresh admits per batch
      assert(added(2) <= 1L, s"compiles per batch: $added")
    } finally dropTables(p)
  }

  test("streamingIngest fails at wiring time: missing store table, wrong manifest scheme") {
    val p = "gstr_w"
    mkTables(p)
    try {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, String)]
      val sdf = input.toDF().toDF("doc_id", "text")
      val e1 = intercept[IllegalArgumentException] {
        Curate.streamingIngest(sdf, "doc_id", "text",
          s"${p}_missing", s"${p}_sig", s"${p}_idx", buckets = B)
      }
      assert(e1.getMessage.contains("bootstrap"))
      val e2 = intercept[IllegalArgumentException] {
        Curate.streamingIngest(sdf, "doc_id", "text",
          s"${p}_fp", s"${p}_sig", s"${p}_idx", buckets = B,
          manifestTable = Some(s"${p}_man"), bands = 8)
      }
      assert(e2.getMessage.contains("bands"))
      // bucket-spec mismatch fails at wiring too (r20 review: existence
      // alone let a buckets mismatch burn a full micro-batch of curate
      // work before appendBucketed's own check fired mid-trigger)
      val e3 = intercept[IllegalArgumentException] {
        Curate.streamingIngest(sdf, "doc_id", "text",
          s"${p}_fp", s"${p}_sig", s"${p}_idx", buckets = B + 1)
      }
      assert(e3.getMessage.contains("bucket spec"), e3.getMessage)
    } finally dropTables(p)
  }
}
