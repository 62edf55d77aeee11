package graftbench

import java.io.File
import scala.collection.mutable
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, floor, lit}
import graft.llm.{Curate, Dedup, VectorIndex}
import graft.ops.Bucketed
import graft.piglatin.{Parser, PigEngine, Preprocessor}

object Inputs {
  def read(path: String): JsonNode = new ObjectMapper().readTree(new File(path))
  def seq(n: JsonNode): IndexedSeq[JsonNode] = (0 until n.size).map(n.get)
}

/** Multiset equality of two frames with the same columns (graft's own
  * helper is package-private). */
object Multiset {
  def equal(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.toSeq
    val ca = a.groupBy(cols.map(col): _*).agg(count(lit(1)).as("graftbench_na"))
    val cb = b.groupBy(cols.map(col): _*).agg(count(lit(1)).as("graftbench_nb"))
    ca.join(cb, cols.map(c => ca(c) <=> cb(c)).reduce(_ && _), "full_outer")
      .filter(!(col("graftbench_na") <=> col("graftbench_nb"))).isEmpty
  }
}

// ------------------------------------------------------------- pig_etl

/** A seeded stream of Pig Latin scripts over the sf0.1 tables, one
  * template after another; each op runs one script to its STORE. The
  * stored results are checked against DuckDB twins by run.py. */
final class PigEtl(ctx: Ctx, in: String, dir: String, tag: String) extends Workload {
  private val spec = Inputs.read(s"$in/scripts.json")
  private val timed = Inputs.seq(spec.get("timed"))
  private val prime = Inputs.seq(spec.get("prime"))
  private val warm = Inputs.seq(spec.get("warm"))
  // one script of every template
  val roundLen: Int = spec.get("round").asInt
  val traceOps: Int = roundLen
  val warmRound: Int = spec.get("warm_round").asInt
  private var parseNs = 0L

  private def engine() = new PigEngine(ctx.spark, Some(s"$in/tables"))
    .registerFunction("PRICE_BAND", cs => floor(cs.head / cs(1)))

  private def script(n: JsonNode, out: String) =
    n.get("pig").asText + s"\nSTORE out INTO '$out';\n"

  /** Primes every template once, on as many threads as the session has
    * cores: the first run of a script pays one-off class loading, JIT
    * and codegen that the rounds then need not wait out one by one. */
  override def warmStart(): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      ctx.spark.sparkContext.defaultParallelism)
    try prime.zipWithIndex.map { case (n, k) =>
      pool.submit(new java.util.concurrent.Callable[PigEngine] {
        def call(): PigEngine = engine().run(script(n, f"$dir/prime/op_$k%05d"))
      })
    }.foreach(_.get())
    finally pool.shutdownNow()
  }
  def warmOp(r: Int, j: Int): Double =
    Main.timeMs(engine().run(script(warm(r * warmRound + j), s"$dir/warm/r${r}_$j")))
  def buildTimed(): Unit = ()
  def hasOp(i: Int): Boolean = i < timed.size
  def kind(i: Int): String = timed(i).get("template").asText

  private def opScript(i: Int) = script(timed(i), f"$dir/out_$tag/op_$i%05d")
  def op(i: Int): Unit = ctx.call("PigEngine.run") { engine().run(opScript(i)) }

  /** Outputs are checked by run.py. A traced pass times the front end
    * here, outside the op: the same two calls PigEngine.run makes first,
    * on the op's own script, so the traced op does the untraced op's work. */
  def check(i: Int): Boolean = {
    if (ctx.tracer.nonEmpty && i < traceOps) {
      val t = System.nanoTime()
      Parser.parse(Preprocessor.expand(opScript(i)))
      parseNs += System.nanoTime() - t
    }
    true
  }
  def finish(nOps: Int): Finish = Finish(invariantsOk = true, failedOps = Set.empty,
    Map("outputs" -> s"$dir/out_$tag"),
    Map("parse_ms_per_op" -> parseNs / 1e6 / math.max(1, math.min(nOps, traceOps))))
}

// ------------------------------------------------------- ingest_stream

/** Seeded document batches through `Curate.ingestBatch` (with ledger and
  * manifest) against three bucketed stores; `Bucketed.compactIfNeeded`
  * runs on each store after every batch, with its default budget of 8
  * runs per bucket. The timed stores are built with `Prefill` batches
  * already in them, so that a round of `roundLen` timed batches ends in
  * the batch whose append makes every store compact: each round is one
  * compaction cycle, and its last op pays the rewrite. */
final class IngestStream(ctx: Ctx, in: String, dir: String, tag: String) extends Workload {
  private val spark = ctx.spark
  private val Buckets = 4
  private val spec = Inputs.read(s"$in/docs/ingest.json")
  private val batches = Inputs.seq(spec.get("batches"))
  // Every append adds one run per bucket, so at the default budget a
  // store first compacts after its ninth batch: three prefill batches in
  // set-up, then six timed ones, the last of which compacts.
  private val Prefill = 3
  val roundLen = 6
  val traceOps = 6
  val warmRound = 1
  // no warm-up rounds: the JIT is still compiling thousands of Spark
  // methods a batch minutes into a run, so latency does not converge in
  // any affordable set-up. Warm-up is a fixed amount of work instead, the
  // same in every run: the in-session replay, the prefill and a compaction
  // (see buildTimed).
  override val maxWarmRounds = 0
  override val storeCalls = Set("Curate.ingestBatch", "Bucketed.compactIfNeeded")
  private var compactions = 0

  private def frame(n: JsonNode): DataFrame = spark.read.parquet(s"$in/docs/${n.get("path").asText}")
  private def tables(p: String) = (s"${p}_fp", s"${p}_sig", s"${p}_idx", s"${p}_man", s"${p}_led")

  private def bootstrap(p: String): Unit = {
    val (fp, sig, idx, man, _) = tables(p)
    val (fp0, sig0, idx0) = Curate.emptyStores(frame(batches.head), "doc_id", "text")
    Bucketed.writeBucketed(fp0, fp, Seq("fp_a"), Buckets)
    Bucketed.writeBucketed(sig0, sig, Seq("id"), Buckets)
    Bucketed.writeBucketed(idx0, idx, Seq("band", "key"), Buckets)
    Dedup.lshManifest(spark).write.format("parquet").saveAsTable(man)
  }
  private def ingest(p: String, df: DataFrame, id: Long): Unit = {
    val (fp, sig, idx, man, led) = tables(p)
    Curate.ingestBatch(df, id, "doc_id", "text", fp, sig, idx, Buckets,
      manifestTable = Some(man), ledgerTable = Some(led))
  }
  private def compactAll(p: String): Int = {
    val (fp, sig, idx, _, _) = tables(p)
    Seq(idx, sig, fp).count(t =>
      ctx.call("Bucketed.compactIfNeeded") { Bucketed.compactIfNeeded(spark, t) })
  }

  def warmOp(r: Int, j: Int): Double =
    throw new IllegalStateException("ingest_stream has no warm-up rounds")
  /** Bootstraps the timed stores and ingests the prefill. The in-session
    * replay of a round's batches, which the end-of-run check compares the
    * admits with, runs first: it is warm-up for the same code paths. */
  def buildTimed(): Unit = {
    replayTo(Prefill + roundLen)
    bootstrap(tag)
    (0 until Prefill).foreach { b => ingest(tag, frame(batches(b)), b.toLong); compactAll(tag) }
    // one compaction of a throwaway copy of each store, so that the
    // round's compaction is not the first run of the rewrite path
    val (fp, sig, idx, _, _) = tables(tag)
    Seq(fp -> Seq("fp_a"), sig -> Seq("id"), idx -> Seq("band", "key")).foreach { case (t, keys) =>
      Bucketed.writeBucketed(spark.table(t), s"${t}_warm", keys, Buckets)
      Bucketed.compact(spark, s"${t}_warm")
    }
  }
  def hasOp(i: Int): Boolean = Prefill + i < batches.size
  def kind(i: Int): String = "batch"
  def op(i: Int): Unit = ctx.call("Curate.ingestBatch") {
    ingest(tag, frame(batches(Prefill + i)), (Prefill + i).toLong)
  }
  override def maintain(i: Int): Unit = compactions += compactAll(tag)
  def check(i: Int): Boolean = true

  private val replay = IngestStream.replayOf(in)
  private def replayed = replay.admits

  /** Replays batches up to `n` through `Curate.incrementalCurate` on
    * in-memory stores (q129's parity twin), once per input set: both
    * passes of a traced run share it. Each batch's admits are collected,
    * so the stores hold no cached blocks a sweep could drop. */
  private def replayTo(n: Int): Unit = {
    val man = Dedup.lshManifest(spark)
    var (fpMem, sigMem) = replay.stores.getOrElse {
      val (fp0, sig0, _) = Curate.emptyStores(frame(batches.head), "doc_id", "text")
      (fp0, sig0)
    }
    while (replayed.size < n) {
      val adm = Curate.incrementalCurate(frame(batches(replayed.size)), "doc_id", "text",
        fpMem, sigMem, manifest = Some(man))
      val rows = adm.collect()
      graft.dsl.Rel.releaseTracked(blocking = true)
      val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), adm.schema)
      fpMem = fpMem.unionByName(local.select(col("fp_a"), col("fp_b")))
      sigMem = sigMem.unionByName(local.select(col("id"), col("sig")))
      replayed += rows.map(_.getAs[Long]("id")).toSet
    }
    replay.stores = Some((fpMem, sigMem))
  }

  private def ids(n: JsonNode): Set[Long] = {
    val first = n.get("first_id").asLong
    (first until first + n.get("n").asLong).toSet
  }

  /** Admits vs planted copies, the band-index invariant, and the admits
    * of an in-session replay of the same batches, prefill included (a
    * prefill batch that fails fails every op). */
  def finish(nOps: Int): Finish = {
    import spark.implicits._
    val (fp, sig, idx, _, _) = tables(tag)
    val n = Prefill + nOps
    val admitted = spark.table(sig).select(col("id")).as[Long].collect().toSet
    val copyAdmitted = (0 until n).filter { i =>
      Inputs.seq(batches(i).get("exact_copy_ids")).exists(n => admitted.contains(n.asLong))
    }.toSet
    val idxOk = Multiset.equal(spark.table(idx).select("band", "key", "id"),
      Dedup.lshBandIndex(spark.table(sig), 64, 16).select("band", "key", "id"))
    replayTo(n)
    val parityFail = (0 until n).filter(i => replayed(i) != (admitted intersect ids(batches(i)))).toSet
    val offered = (0 until n).map(i => batches(i).get("n").asLong).sum
    val inputBytes = (0 until n).map(i => batches(i).get("input_bytes").asLong).sum
    val stores = Seq(fp, sig, idx).map(t => new File(s"$dir/warehouse/$t"))
    val bad = copyAdmitted ++ parityFail
    Finish(invariantsOk = idxOk && bad.forall(_ >= Prefill), failedOps = bad.map(_ - Prefill),
      Map("idx_equals_band_index_of_sig" -> idxOk,
        "prefill_batches" -> Prefill,
        "batches_admitting_an_exact_copy" -> copyAdmitted.toSeq.sorted,
        "batches_differing_from_in_session_replay" -> parityFail.toSeq.sorted,
        "admitted" -> admitted.size, "offered" -> offered, "compactions" -> compactions),
      Map("admit_ratio" -> admitted.size.toDouble / math.max(1L, offered),
        "stored_bytes_per_input_byte" -> stores.map(ctx.dirBytes).sum.toDouble / math.max(1L, inputBytes),
        "files_per_bucket" -> stores.map(ctx.parquetFiles).sum.toDouble / (stores.size * Buckets)))
  }
}

object IngestStream {
  /** Admits of the in-session replay, batch by batch, and its stores so far. */
  final class Replay {
    val admits = mutable.ArrayBuffer[Set[Long]]()
    var stores: Option[(DataFrame, DataFrame)] = None
  }
  private val replays = mutable.Map[String, Replay]()
  def replayOf(in: String): Replay = replays.getOrElseUpdate(in, new Replay)
}

// ------------------------------------------------------- vector_search

/** Query batches through `VectorIndex.query` over an index built in
  * set-up; every tenth op is a `VectorIndex.append`, followed by
  * `Bucketed.compactIfNeeded` (default budget) on the index. Every query
  * batch is checked against an in-process flat scan on the manifest
  * codebook, and against exact brute force for recall@10. */
final class VectorSearch(ctx: Ctx, in: String, dir: String, tag: String) extends Workload {
  private val spark = ctx.spark
  private val NCells = 16
  private val Buckets = 4
  private val K = 10
  private val NProbe = 3
  private val spec = Inputs.read(s"$in/vectors/vector.json")
  private val ops = Inputs.seq(spec.get("ops"))
  val roundLen = 10
  val traceOps = 10
  val warmRound = 10
  override val storeCalls = Set("VectorIndex.append", "Bucketed.compactIfNeeded")
  private val (idx, man) = (s"${tag}_vidx", s"${tag}_vman")
  private val corpus = spark.read.parquet(s"$in/vectors/corpus.parquet")
  private var lastRows: Array[Row] = Array.empty

  private def frame(i: Int): DataFrame = spark.read.parquet(s"$in/vectors/${ops(i).get("path").asText}")
  private def isAppend(i: Int) = ops(i).get("kind").asText == "append"
  private def query(q: DataFrame): Array[Row] =
    VectorIndex.query(q, "vec_id", "embedding", idx, man, K, NProbe, excludeSelf = false).collect()

  override def warmStart(): Unit =
    VectorIndex.build(corpus, "vec_id", "embedding", NCells, idx, man, Buckets)
  // warm-up ops come from the far half of the op stream, which no timed
  // loop reaches, in the same query/append mix
  def warmOp(r: Int, j: Int): Double = {
    val i = ops.size - 1 - (r * warmRound + j) % (ops.size / 2)
    Main.timeMs { op(i); maintain(i) }
  }
  def buildTimed(): Unit =
    VectorIndex.build(corpus, "vec_id", "embedding", NCells, idx, man, Buckets)
  def hasOp(i: Int): Boolean = i < ops.size
  def kind(i: Int): String = ops(i).get("kind").asText

  def op(i: Int): Unit =
    if (isAppend(i)) ctx.call("VectorIndex.append") {
      VectorIndex.append(frame(i), "vec_id", "embedding", idx, man)
    } else ctx.call("VectorIndex.query") { lastRows = query(frame(i)) }

  override def maintain(i: Int): Unit = if (isAppend(i)) ctx.call("Bucketed.compactIfNeeded") {
    Bucketed.compactIfNeeded(spark, idx)
  }

  // ---- in-process twin: every vector ingested so far, assigned on the
  // manifest codebook with graft's distance and cosine arithmetic
  private lazy val cents: Array[Array[Double]] =
    spark.table(man).select(col("centroids")).head()
      .getSeq[scala.collection.Seq[Double]](0).map(_.toArray).toArray
  private val ids = mutable.ArrayBuffer[Long]()
  private val vecs = mutable.ArrayBuffer[Array[Float]]()
  private val cells = mutable.ArrayBuffer[Int]()
  private var loaded = false
  private var recallSum = 0.0
  private var probedSum = 0.0
  private var queries = 0L

  private def add(df: DataFrame): Unit = df.select("vec_id", "embedding").collect().foreach { r =>
    val v = r.getSeq[Float](1).toArray
    ids += r.getLong(0); vecs += v; cells += nearest(v, 1).head
  }
  private def nearest(v: Array[Float], n: Int): Seq[Int] = cents.indices.map { c =>
    var d = 0.0; var j = 0
    val ct = cents(c)
    while (j < ct.length) { val x = v(j).toDouble - ct(j); d += x * x; j += 1 }
    (d, c)
  }.sortBy(identity).take(n).map(_._2)
  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var j = 0
    while (j < a.length) { s += a(j).toDouble * b(j).toDouble; j += 1 }
    s
  }
  private def cosine(a: Array[Float], b: Array[Float]): Double =
    math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 1e6 + 0.5) / 1e6
  private def topK(q: Array[Float], among: Iterator[Int]): Seq[(Long, Double)] =
    among.map(j => (ids(j), cosine(q, vecs(j)))).toSeq
      .sortBy { case (id, c) => (-c, id) }.take(K)

  def check(i: Int): Boolean = {
    if (!loaded) { add(corpus); loaded = true }
    if (isAppend(i)) { add(frame(i)); true }
    else {
      val got = lastRows.groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq
      }
      // every query is scored (recall, probed rows) even after a mismatch
      val qs = frame(i).select("vec_id", "embedding").collect()
      qs.map { r =>
        val q = r.getSeq[Float](1).toArray
        val probe = nearest(q, NProbe).toSet
        val inCells = cells.indices.filter(j => probe.contains(cells(j)))
        val twin = topK(q, inCells.iterator)
        val exact = topK(q, ids.indices.iterator).map(_._1).toSet
        val res = got.getOrElse(r.getLong(0), Seq.empty)
        recallSum += res.count(x => exact.contains(x._1)).toDouble / K
        probedSum += inCells.size
        queries += 1
        res.map(_._1) == twin.map(_._1) &&
          res.zip(twin).forall { case (a, b) => math.abs(a._2 - b._2) < 1e-9 }
      }.forall(identity)
    }
  }

  /** The index holds exactly the twin's assignment of every vector so far. */
  def finish(nOps: Int): Finish = {
    val table = spark.table(idx).select("id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    val twin = ids.indices.map(j => (ids(j), cells(j))).sorted
    val indexOk = table == twin
    val appended = (0 until nOps).filter(isAppend).map(i => ops(i).get("input_bytes").asLong).sum
    val inputBytes = spec.get("corpus_input_bytes").asLong + appended
    val store = new File(s"$dir/warehouse/$idx")
    Finish(invariantsOk = indexOk, failedOps = Set.empty,
      Map("index_equals_codebook_assignment" -> indexOk, "vectors" -> ids.size,
        "queries" -> queries),
      Map("recall_at_10" -> recallSum / math.max(1L, queries),
        "probed_rows_per_query" -> probedSum / math.max(1L, queries),
        "stored_bytes_per_input_byte" -> ctx.dirBytes(store).toDouble / inputBytes,
        "files_per_bucket" -> ctx.parquetFiles(store).toDouble / Buckets))
  }
}
