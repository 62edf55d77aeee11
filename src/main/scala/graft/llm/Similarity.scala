package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.TopKAgg

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`). Additions beyond the reference's surface
  * (which has no vector ops) for the training-data-pipeline north star.
  *
  * Dot products accumulate left-to-right in double precision — a fixed
  * order, so results are reproducible across partitionings and match a
  * sequential SQL oracle bit-for-bit. The HOF Column forms (dot/cosine/
  * lshBucket) are kept for expression composition and as the
  * SQL-readable spec, and the JVM kernels ([[cosineK]], [[bucketK]])
  * state the same arithmetic as plain loops; the operators themselves
  * evaluate through the native codegen'd expressions
  * ([[graft.plans.DotProductF]] via [[cosineExpr]],
  * [[graft.plans.SignLshF]] via [[bucketExpr]]) — bit-equal to both
  * (spec/ScalaCheck-asserted), but inside whole-stage codegen: Spark's
  * array higher-order functions fall back to interpreted evaluation
  * (CodegenFallback) and a Scala UDF pays serialization, each measured
  * ~5-10x slower on this hot path.
  */
object Similarity {

  /** Double-precision dot product of two float-array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; null-safe for zero vectors (→ null, like Pig
    * division by zero — SURVEY.md §2.1 gotchas). */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0.0, lit(null)).otherwise(dot(a, b) / d)
  }

  // ------------------------- JVM kernels (bit-identical to the Column forms)

  private[graft] def dotK(a: Seq[Float], b: Seq[Float]): Double = {
    var s = 0.0; var i = 0; val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Cosine, rounded via the roundCompat formula; null (None) for zero
    * vectors — same arithmetic and order as the Column composition. */
  private[graft] def cosineK(a: Seq[Float], b: Seq[Float]): Option[Double] = {
    val d = math.sqrt(dotK(a, a)) * math.sqrt(dotK(b, b))
    if (d == 0.0) None
    else Some(math.floor(dotK(a, b) / d * 1e6 + 0.5) / 1e6)
  }

  private def planeComponentK(j: Int, i: Int): Double = {
    val m = ((j.toLong * graft.plans.SignLshF.PlaneStride + i) * 2654435761L) % 1000003L
    (m % 2001L - 1000L).toDouble / 1000.0
  }

  /** Sign-LSH bucket, identical to [[lshBucket]]; `offset` selects the
    * hyperplane family (table t of a multi-table index = offset
    * t·planes; offset 0 is the single-table bucket). */
  private[graft] def bucketK(v: Seq[Float], planes: Int, offset: Int = 0): Long = {
    require(v.length <= graft.plans.SignLshF.PlaneStride,
      s"vector dim ${v.length} exceeds the plane stride")
    var acc = 0L; var j = 0
    while (j < planes) {
      var d = 0.0; var i = 0; val n = v.length
      while (i < n) { d += v(i).toDouble * planeComponentK(offset + j, i); i += 1 }
      if (d > 0) acc |= 1L << j
      j += 1
    }
    acc
  }

  /** Codegen'd cosine through the native `graft_dot` expression
    * ([[graft.plans.DotProductF]], registered by GraftExtensions) —
    * identical arithmetic order to [[cosineK]], so results are
    * bit-equal; stays inside whole-stage codegen. */
  private[graft] def cosineExpr(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) = call_function("graft_dot", x, y)
    val d = sqrt(dot(a, a)) * sqrt(dot(b, b))
    when(d === 0.0, lit(null))
      .otherwise(floor(dot(a, b) / d * 1e6 + 0.5) / 1e6)
  }
  /** Codegen'd sign-LSH bucket through the native `graft_lsh_bucket`
    * expression ([[graft.plans.SignLshF]], registered by
    * GraftExtensions) — identical arithmetic order to [[bucketK]] and
    * the HOF [[lshBucket]], so buckets are bit-equal (KernelPropsSpec);
    * stays inside whole-stage codegen, no Scala UDF on the embedding
    * scan. */
  private[graft] def bucketExpr(planes: Int)(v: Column): Column =
    call_function("graft_lsh_bucket", v, lit(planes))

  /** [[bucketExpr]] for table `t` of a multi-table LSH index —
    * hyperplane family at offset t·planes, disjoint per table. */
  private[graft] def bucketExprTable(planes: Int, table: Int)(v: Column): Column =
    call_function("graft_lsh_bucket", v, lit(planes), lit(table * planes))

  /** The multi-table banding projection every LSH consumer shares:
    * one row per (id, table, bucket), buckets from the codegen'd
    * expression, one evaluation per (row, table). Table 0 is the
    * single-table bucket (offset 0), so `tables = 1` reproduces the
    * plain [[bucketExpr]] banding exactly.
    */
  private[graft] def bandedBuckets(df: DataFrame, idCol: String, vecCol: String,
                                   planes: Int, tables: Int,
                                   outId: String = "doc"): DataFrame =
    df.select(col(idCol).as(outId), posexplode(array(
        (0 until tables).map(t => bucketExprTable(planes, t)(col(vecCol))): _*)))
      .toDF(outId, "tbl", "bucket")

  /** Drop query==neighbor id matches. Every top-k API defaults to the
    * self-query shape (queries drawn FROM the corpus, so a query must
    * not return itself); pass excludeSelf=false when query and corpus
    * id spaces are INDEPENDENT — with the filter on, a corpus row that
    * merely shares a query's id value would silently never be returned
    * (r17 review). */
  private[graft] def dropSelf(df: DataFrame, excludeSelf: Boolean): DataFrame =
    if (excludeSelf) df.filter(col("query_id") =!= col("neighbor_id")) else df

  /** ONE integral-id whitelist for every top-k/index surface
    * ([[topKSelect]], [[graft.llm.VectorIndex]]): a silent
    * cast("long") on a string id column stores/groups NULLs —
    * corruption, not an error — so the type is validated where the id
    * enters, with one shared list that cannot drift between copies. */
  private[graft] def requireIntegralId(idType: org.apache.spark.sql.types.DataType,
                                       who: String): Unit =
    require(Seq[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType, org.apache.spark.sql.types.ByteType)
        .contains(idType),
      s"$who: integral id columns required (got $idType) — map string ids " +
        "to a surrogate long (e.g. xxhash64) first")

  /** Per-query top-k via the bounded [[graft.ops.TopKAgg]] aggregator:
    * partial/final aggregation keeps k rows per map task — no full sort
    * of the scored pairs through a window exchange. Output matches the
    * window row_number formulation exactly (score desc, id asc ties).
    */
  private[graft] def topKSelect(scored: org.apache.spark.sql.DataFrame, k: Int) = {
    // TopKAgg's buffer carries ids as primitive longs — a clear error
    // at the API boundary beats the encoder's "Cannot up cast" (r17
    // review; string/UUID ids need a surrogate long key first)
    requireIntegralId(scored.schema("neighbor_id").dataType, "top-k")
    val agg = TopKAgg.topK(k)
    scored.filter(col("cosine").isNotNull)
      .groupBy("query_id")
      .agg(agg(col("cosine"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col._2").as("neighbor_id"),
        col("col._1").as("cosine"), (col("pos") + 1).cast("int").as("rk"))
  }

  /** Brute-force cosine top-k: every query row against every corpus
    * row (the cross join broadcasts the smaller query side), then the
    * bounded [[topKSelect]] aggregation — k rows of state per map
    * task, no window exchange. This is the exact baseline the ANN
    * variants are measured against.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     queryId: String, corpusId: String, vecCol: String,
                     k: Int, excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(queryId).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .transform(dropSelf(_, excludeSelf))
      .select(col("query_id"), col("neighbor_id"),
        cosineExpr(col("qv"), col("cv")).as("cosine"))
    topKSelect(scored, k)
  }

  /** Deterministic pseudo-random hyperplane component: an integer-only
    * formula (multiplicative hashing, exactly reproducible in any SQL
    * engine) mapped to [-1, 1] in steps of 1e-3.
    * component(j, i) = (((j*4096+i) * 2654435761) mod 1000003 mod 2001 - 1000) / 1000
    * The stride ([[graft.plans.SignLshF.PlaneStride]]) must exceed the
    * vector dim or components collide across planes (the pre-r17
    * stride of 64 correlated adjacent planes for dim > 64).
    */
  def planeComponent(j: Column, i: Column): Column =
    ((pmod(pmod((j.cast("long") * graft.plans.SignLshF.PlaneStride + i)
        * lit(2654435761L), lit(1000003L)), lit(2001L)) - 1000L)
      .cast("double") / 1000.0)

  /** Sign-LSH bucket id over `planes` deterministic hyperplanes: bit j =
    * sign(v · h_j). Same-bucket vectors are candidate neighbors. */
  def lshBucket(v: Column, planes: Int = 8): Column =
    aggregate(sequence(lit(0), lit(planes - 1)), lit(0L), (acc, j) => {
      val d = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1),
          (x, i) => x.cast("double") * planeComponent(j, i)),
        lit(0.0), (a, x) => a + x)
      acc + when(d > 0, call_function("shiftleft", lit(1L), j)).otherwise(0L)
    })

  /** LSH-bucketed ANN top-k: exact cosine, but only within the query's
    * bucket — the scale path (bucket count grows 2^planes, so each
    * bucket's cross product stays bounded). Recall is approximate by
    * construction; increase `planes` ↓ cost / ↓ recall, and
    * `tables` > 1 restores recall with a multi-table (OR-of-ANDs)
    * index — candidates share a bucket in ANY table's disjoint
    * hyperplane family, deduplicated before scoring (same design as
    * `Dedup.embeddingNearDup`). `tables = 1` is the original plan.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              queryId: String, corpusId: String, vecCol: String,
              k: Int, planes: Int = 8, tables: Int = 1,
              excludeSelf: Boolean = true): DataFrame = {
    require(planes >= 1 && planes <= 64 && tables >= 1,
      s"lshTopK: planes must be in [1, 64] (bits of one long) and tables >= 1, got planes=$planes tables=$tables")
    val scored = if (tables <= 1) {
      val q = queries.select(col(queryId).as("query_id"), col(vecCol).as("qv"),
        bucketExpr(planes)(col(vecCol)).as("bucket"))
      val c = corpus.select(col(corpusId).as("neighbor_id"), col(vecCol).as("cv"),
        bucketExpr(planes)(col(vecCol)).as("bucket"))
      q.join(c, Seq("bucket"))
        .transform(dropSelf(_, excludeSelf))
        .select(col("query_id"), col("neighbor_id"),
          cosineExpr(col("qv"), col("cv")).as("cosine"))
    } else {
      val cand = bandedBuckets(queries, queryId, vecCol, planes, tables, "query_id")
        .join(bandedBuckets(corpus, corpusId, vecCol, planes, tables, "neighbor_id"),
          Seq("tbl", "bucket"))
        .transform(dropSelf(_, excludeSelf))
        .select(col("query_id"), col("neighbor_id"))
        .distinct()
      cand
        .join(queries.select(col(queryId).as("query_id"), col(vecCol).as("qv")), "query_id")
        .join(corpus.select(col(corpusId).as("neighbor_id"), col(vecCol).as("cv")), "neighbor_id")
        .select(col("query_id"), col("neighbor_id"),
          cosineExpr(col("qv"), col("cv")).as("cosine"))
    }
    topKSelect(scored, k)
  }

  // ------------------------------ IVF with a k-means coarse quantizer

  /** Train a coarse k-means quantizer with a few Lloyd iterations.
    * Deterministic init (lowest-id vectors); the model (k × dim doubles)
    * is tiny and lives on the driver, like any coarse-quantizer
    * codebook — the data-parallel work (assignment, per-cell means) runs
    * as DataFrame aggregations.
    *
    * Scale: Lloyd iterations scan the TRAINING set, not the corpus — a
    * corpus larger than `maxTrain` vectors is down-sampled (seeded, so
    * the codebook is deterministic for a fixed input partitioning)
    * before training. A coarse quantizer needs only a representative
    * sample (k ≪ sample ≪ corpus); assignment still covers every row.
    */
  /** First `k` distinct vectors from an ordered candidate pool; if the
    * pool holds fewer than k distinct values, the remainder are filled
    * by deterministically jittering the distinct ones — k-means init
    * must never start with coincident centroids (ties assign to the
    * lower index, so a duplicate seed's twin cell would stay empty for
    * every Lloyd iteration).
    */
  private[graft] def distinctSeeds(cands: Array[Array[Double]], k: Int): Array[Array[Double]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val seen = scala.collection.mutable.HashSet.empty[Seq[Double]]
    cands.iterator.takeWhile(_ => out.length < k).foreach { c =>
      if (seen.add(c.toSeq)) out += c
    }
    require(out.nonEmpty, "k-means init: no training vectors")
    require(out.head.length > 0,
      "k-means init: zero-dimensional vectors cannot seed distinct centroids")
    var j = 0
    while (out.length < k) {
      val base = out(j % out.length)
      // RELATIVE jitter: an absolute 1e-4 step vanishes below ulp(x)
      // for coordinates ≳ 1e13, which would spin this loop ~forever
      val jit = base.zipWithIndex.map { case (x, i) =>
        x + 1e-4 * (j + 1) * math.max(1.0, math.abs(x) * 1e-6) *
          (if (i % 2 == 0) 1 else -1)
      }
      if (seen.add(jit.toSeq)) out += jit
      j += 1
      require(j < 100000 * k,
        "k-means init: could not derive distinct seed centroids (degenerate sample)")
    }
    out.toArray
  }

  /** Collect a bounded, seeded, id-sorted training sample as driver
    * arrays. The sample is `maxTrain × d` doubles — a MODEL-SIZED
    * object by construction (16k × 64-dim ≈ 8 MB), independent of
    * corpus size; cap `maxTrain` down for very wide vectors. Sorting by
    * id makes the collected order (hence everything trained from it)
    * deterministic regardless of input partitioning.
    */
  private[graft] def sampleVectors(corpus: DataFrame, idCol: String, vecCol: String,
                                   maxTrain: Long): Array[Array[Double]] = {
    // skip null vectors and vectors with null elements: the collect
    // side's getSeq(...).map would NPE on them, crashing every
    // training entry point while the distributed scoring paths
    // tolerate the same rows (cosineExpr -> null) — r17 review. Null
    // ids too: the driver-side id sort below would NPE on them
    val v0 = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .filter(col("id").isNotNull && col("v").isNotNull &&
        !exists(col("v"), _.isNull))
    val total = v0.count()
    val s = if (total > maxTrain) v0.sample(maxTrain.toDouble / total, 42L) else v0
    // the id sort happens DRIVER-side on the collected sample (r22):
    // the old cluster-side orderBy paid a range-sampling job plus a
    // full sort exchange to order a MODEL-SIZED array the driver holds
    // anyway. Same order (integral ids, sort by value; unique ids make
    // it total), so the trained codebooks are bit-identical. Non-
    // integral id types keep the cluster sort — a driver longValue
    // would reorder them.
    val integral = Seq[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.ShortType, org.apache.spark.sql.types.ByteType)
      .contains(corpus.schema(idCol).dataType)
    val rows = if (integral) s.collect().sortBy(_.getAs[Number](0).longValue)
               else s.orderBy("id").collect()
    rows.map(_.getSeq[Float](1).map(_.toDouble).toArray)
  }

  /** Nearest centroid by L2 for a driver-side double vector — same
    * distance arithmetic and (distance, index) tie order as
    * [[nearestCells]]/the codegen kernel. */
  private[graft] def nearestCellD(x: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var d = 0.0; var i = 0
      val ct = cents(c)
      while (i < ct.length) { val diff = x(i) - ct(i); d += diff * diff; i += 1 }
      if (d < bestD) { bestD = d; best = c } // strict < keeps the lowest index on ties
      c += 1
    }
    best
  }

  /** Driver-side Lloyd iterations over an in-memory training sample.
    * The r13 formulation ran every iteration as a posexplode +
    * two-level DataFrame aggregation — correct, but the sample is
    * bounded at `maxTrain` rows by design, so each "iteration" was a
    * full driver-scheduled job (plan + codegen compile of a
    * codebook-literal expression that CHANGES every iteration) over a
    * few MB of data. Stage timing (BENCH_NOTES §Round 14, PQ training
    * rework) put q92's codebook training at 2.7 s of its 4 s total,
    * all scheduling/codegen. A
    * model fit on a model-sized sample belongs on the driver: training
    * is now ONE count + ONE collect, and the cluster only ever runs
    * the corpus-wide assignment/encode (which stays codegen'd and
    * distributed). Empty cells re-seed by splitting the largest cell
    * (deterministic jitter), so the codebook never silently shrinks.
    *
    * The per-iteration assign+sum is O(sample · k · dim) — trivial at
    * PQ/IVF sizes (k ≤ 256) but ~39G multiply-adds for SemDeDup's
    * scaled coarse quantizer (k = 4096, 100k sample), which the r15
    * q98 stage probe measured at ~87 s single-threaded. It now runs
    * over fixed 4096-point BLOCKS on a Java parallel stream, partials
    * combined in block-index order — bit-deterministic regardless of
    * thread scheduling (same blocks, same combine order), just not
    * bit-identical to the old single-accumulator order (documented;
    * every consumer's oracle is property-based).
    */
  private[graft] def lloydLocal(data: Array[Array[Double]],
                                init: Array[Array[Double]],
                                iters: Int): Array[Array[Double]] = {
    var cents = init
    val k = init.length
    val d = init(0).length
    val blockSize = 4096
    val nBlocks = (data.length + blockSize - 1) / blockSize
    for (_ <- 1 to iters) {
      val cur = cents
      val partials = java.util.stream.IntStream.range(0, nBlocks).parallel()
        .mapToObj[(Array[Array[Double]], Array[Long])] { b =>
          val bSums = Array.fill(k, d)(0.0)
          val bCnt = new Array[Long](k)
          var p = b * blockSize
          val end = math.min(p + blockSize, data.length)
          while (p < end) {
            val x = data(p)
            val c = nearestCellD(x, cur)
            bCnt(c) += 1
            var i = 0; while (i < d) { bSums(c)(i) += x(i); i += 1 }
            p += 1
          }
          (bSums, bCnt)
        }
        .toArray(n => new Array[(Array[Array[Double]], Array[Long])](n))
      val sums = Array.fill(k, d)(0.0)
      val cnt = new Array[Long](k)
      partials.foreach { case (bSums, bCnt) => // block order: deterministic
        var c = 0
        while (c < k) {
          cnt(c) += bCnt(c)
          var i = 0; while (i < d) { sums(c)(i) += bSums(c)(i); i += 1 }
          c += 1
        }
      }
      val next = Array.tabulate(k, d) { (c, i) =>
        if (cnt(c) > 0) sums(c)(i) / cnt(c) else cents(c)(i)
      }
      for (c <- 0 until k if cnt(c) == 0L) {
        val big = (0 until k).maxBy(cnt(_))
        // RELATIVE jitter (same formula as distinctSeeds): an absolute
        // 1e-4 step vanishes below ulp(x) for coordinates ≳ 1e13, so the
        // reseeded centroid would stay bit-identical to its split source
        // and the empty cell would silently persist every iteration.
        next(c) = next(big).zipWithIndex.map { case (x, i) =>
          x + 1e-4 * (c + 1) * math.max(1.0, math.abs(x) * 1e-6) *
            (if (i % 2 == 0) 1 else -1)
        }
      }
      cents = next
    }
    cents
  }

  /** Train from an already-collected sample (shared by ivfPqTopK so
    * coarse + PQ quantizers ride ONE sample collect). */
  private[graft] def kmeansFromSample(sample: Array[Array[Double]], k: Int,
                                      iters: Int): Array[Array[Double]] =
    lloydLocal(sample, distinctSeeds(sample.take(k * 4), k), iters)

  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int = 3,
                      maxTrain: Long = 100000L): Array[Array[Double]] =
    kmeansFromSample(sampleVectors(corpus, idCol, vecCol, maxTrain), k, iters)

  /** Codegen'd `n`-nearest-centroid assignment through the native
    * `graft_nearest_cells` expression ([[graft.plans.NearestCellsF]],
    * registered by GraftExtensions) — identical distance arithmetic and
    * (distance, index) tie order to [[nearestCells]], so cell ids are
    * bit-equal (KernelPropsSpec); the codebook travels as a foldable
    * `array<array<double>>` literal, so the whole assign/probe stays
    * inside whole-stage codegen with no UDF serialization and no
    * broadcast handle to manage. */
  private[graft] def nearestCellsExpr(cents: Array[Array[Double]], n: Int)(v: Column): Column =
    call_function("graft_nearest_cells", v,
      typedLit(cents.map(_.toSeq).toSeq), lit(n))

  /** Indices of the `n` nearest centroids by L2 distance. */
  private[graft] def nearestCells(vec: Seq[Float], cents: Array[Array[Double]],
                                  n: Int): Seq[Int] =
    cents.indices.map { c =>
      var d = 0.0; var i = 0
      val ct = cents(c)
      while (i < ct.length) {
        val diff = vec(i).toDouble - ct(i); d += diff * diff; i += 1
      }
      (d, c)
    }.sortBy(x => (x._1, x._2)).take(n).map(_._2)

  /** IVF-style ANN: corpus quantized to coarse cells (the LSH bucket
    * doubles as the inverted-file cell id); queries probe their own cell
    * plus `nprobe-1` sibling cells (bit flips) for better recall.
    */
  /** True IVF top-k: k-means codebook cells, queries probe their
    * `nprobe` nearest cells. Recall/cost tuned by (nCells, nprobe);
    * cells shard the corpus so per-cell scans stay bounded at scale.
    */
  def ivfKmeansTopK(queries: DataFrame, corpus: DataFrame,
                    queryId: String, corpusId: String, vecCol: String,
                    k: Int, nCells: Int = 16, nprobe: Int = 3,
                    iters: Int = 3, excludeSelf: Boolean = true): DataFrame = {
    val cents = kmeansCentroids(corpus, corpusId, vecCol, nCells, iters)
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(vecCol).as("cv"),
      nearestCellsExpr(cents, 1)(col(vecCol))(0).as("cell"))
    val q = queries.select(col(queryId).as("query_id"), col(vecCol).as("qv"),
      explode(nearestCellsExpr(cents, nprobe)(col(vecCol))).as("cell"))
    // NO distinct: the probe list holds nprobe DISTINCT cells per query
    // and each neighbor lives in exactly one cell, so (query, neighbor)
    // pairs are unique by construction — a distinct here would shuffle
    // the full scored set for nothing (the operator's one hot exchange)
    val scored = q.join(c, Seq("cell"))
      .transform(dropSelf(_, excludeSelf))
      .select(col("query_id"), col("neighbor_id"),
        cosineExpr(col("qv"), col("cv")).as("cosine"))
    topKSelect(scored, k)
  }

  // --------------------------------- product quantization (PQ + ADC)

  // Per-subspace PQ codebooks (Jégou et al. 2011, "Product Quantization
  // for Nearest Neighbor Search" — public paper): the vector splits
  // into `m` coordinate blocks of d/m dims; each block gets its own
  // `k`-codeword k-means codebook. The model is m·k·(d/m) doubles —
  // driver-tiny at any corpus size.

  /** Train from an already-collected sample: per-subspace slice +
    * driver Lloyd (see [[lloydLocal]] for why training does not run as
    * cluster jobs — the sample is model-sized by construction). Init
    * takes the first k DISTINCT slices per subspace: duplicate early
    * rows would otherwise seed duplicate codewords (ties assign to the
    * lower index, leaving the higher-index twin permanently empty).
    */
  private[graft] def pqBooksFromSample(sample: Array[Array[Double]], m: Int,
                                       k: Int, iters: Int): Array[Array[Array[Double]]] = {
    val d = sample(0).length
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val dsub = d / m
    Array.tabulate(m) { s =>
      val sub = sample.map(_.slice(s * dsub, (s + 1) * dsub))
      lloydLocal(sub, distinctSeeds(sub.take(k * 4), k), iters)
    }
  }

  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                  m: Int = 8, k: Int = 16, iters: Int = 3,
                  maxTrain: Long = 100000L): Array[Array[Array[Double]]] =
    pqBooksFromSample(sampleVectors(corpus, idCol, vecCol, maxTrain), m, k, iters)

  /** Encode the corpus against trained codebooks: per-subspace
    * nearest-codeword ids (one byte each at k ≤ 256 — at d=64, m=8
    * that is 8 bytes vs 256 bytes of float32, 32× compression: the
    * reason a 100 TB embedding corpus can live in executor memory as
    * codes) plus the reconstruction norm the ADC cosine divides by
    * (subspaces are disjoint coordinate blocks, so |x̂|² = Σ_s |cw_s|²,
    * precomputed per codeword and looked up as a foldable literal).
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               books: Array[Array[Array[Double]]],
               passthrough: Seq[String] = Nil): DataFrame = {
    val m = books.length
    val dsub = books(0)(0).length
    val codes = array((0 until m).map { s =>
      nearestCellsExpr(books(s), 1)(slice(col(vecCol), s * dsub + 1, dsub))(0)
    }: _*)
    val norms = (0 until m).map { s =>
      typedLit(books(s).map(cw => cw.map(x => x * x).sum).toSeq)
    }
    val rnorm2 = (0 until m).map(s =>
      element_at(norms(s), col("codes")(s) + 1)).reduce(_ + _)
    // passthrough: extra columns carried into the encoded frame in the
    // SAME projection (IVFPQ's cell + exact norm) — attaching them
    // post-hoc would be a full corpus self-join
    corpus.select((col(idCol) +: passthrough.map(col)) :+ codes.as("codes"): _*)
      .withColumn("rnorm", sqrt(rnorm2))
  }

  /** PQ ANN top-k with asymmetric-distance shortlist and exact
    * re-rank: the ADC pass scores every CODE row (8 bytes each, no
    * float vectors move — a broadcast of the query panel against the
    * compressed corpus, shuffle-free and whole-stage-codegen'd via a
    * zip_with/aggregate fold per subspace), keeps `k·rerank`
    * candidates per query, then re-reads ONLY those candidates'
    * true vectors for an exact cosine re-rank. Returned cosines are
    * therefore EXACT (oracle-verifiable, the q42 pattern) while the
    * scan cost rides the 32×-compressed representation. Compose with
    * [[ivfKmeansTopK]]'s cells (encode per cell, probe nprobe cells)
    * when even the compressed full scan is too much — the classic
    * IVFPQ layout.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
             queryId: String, corpusId: String, vecCol: String,
             k: Int, m: Int = 8, codewords: Int = 16,
             rerank: Int = 4, iters: Int = 3,
             maxTrain: Long = 16384L, excludeSelf: Boolean = true): DataFrame = {
    // maxTrain bounds codebook training INDEPENDENT of corpus size:
    // 16k vectors give ~1k training points per codeword per subspace
    // at the default (m, codewords) — sampling past that buys nothing
    // (recall flat — SCALECURVE.md §Round 13 session-3 addendum),
    // while training on the corpus would make
    // the Lloyd aggregations scale with the data
    val books = pqCodebooks(corpus, corpusId, vecCol, m, codewords, iters, maxTrain)
    val dsub = books(0)(0).length
    val enc = pqEncode(corpus, corpusId, vecCol, books)
      .withColumnRenamed(corpusId, "neighbor_id")
    val q = queries.select(col(queryId).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qnorm"))
    // ADC fold through the native graft_dot expression (whole-stage
    // codegen — the aggregate/zip_with HOF form is interpreted
    // per-row, on THE hot scan of the compressed corpus). Codewords
    // ride as float32 literals: shortlist scores only — the exact
    // re-rank below fixes the returned cosines either way.
    val adc = (0 until m).map { s =>
      val sub = slice(col("qv"), s * dsub + 1, dsub)
      val cbF = typedLit(books(s).map(_.map(_.toFloat).toSeq).toSeq)
      call_function("graft_dot", sub, element_at(cbF, col("codes")(s) + 1))
    }.reduce(_ + _)
    val shortlist = enc.crossJoin(broadcast(q))
      .transform(dropSelf(_, excludeSelf))
      .select(col("query_id"), col("neighbor_id"),
        (adc / (col("qnorm") * col("rnorm"))).as("cosine"))
    val cand = topKSelect(shortlist, k * rerank)
      .select(col("query_id"), col("neighbor_id"))
    val exact = cand
      .join(queries.select(col(queryId).as("query_id"), col(vecCol).as("qv")),
        "query_id")
      .join(corpus.select(col(corpusId).as("neighbor_id"), col(vecCol).as("cv")),
        "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosineExpr(col("qv"), col("cv")).as("cosine"))
    topKSelect(exact, k)
  }

  /** IVFPQ: the coarse k-means cells of [[ivfKmeansTopK]] composed
    * with residual product quantization — the classic billion-scale
    * layout (Jégou et al. 2011 §IV). Each corpus vector is assigned to
    * its nearest coarse cell and only the RESIDUAL x − c(cell) is
    * PQ-encoded (residuals are smaller and better centered than raw
    * vectors, so the same codebook budget quantizes finer). Queries
    * probe `nprobe` cells; the shortlist score is a true cosine
    * approximation
    *
    *   (⟨q, c⟩ + ⟨q, r̂⟩) / (|q| · |x|)
    *
    * with ⟨q, c⟩ exact per probed cell, ⟨q, r̂⟩ the per-subspace ADC
    * fold, and |x| the EXACT vector norm stored at encode time (one
    * float per row — the codes stay the compressed payload). The
    * cell equi-join prunes the scan to the probed inverted lists;
    * the exact re-rank then makes returned cosines oracle-exact,
    * as in [[pqTopK]].
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                queryId: String, corpusId: String, vecCol: String,
                k: Int, nCells: Int = 16, nprobe: Int = 3,
                m: Int = 16, codewords: Int = 16,
                rerank: Int = 8, iters: Int = 3, excludeSelf: Boolean = true,
                maxTrain: Long = 16384L): DataFrame = {
    // BOTH quantizers train from ONE collected sample (one count + one
    // collect total): coarse cells directly, then PQ books on the
    // sample's residuals computed driver-side with the identical
    // assignment kernel and float32 rounding the distributed residual
    // encode applies — no second corpus-side count/sample pipeline
    // (r13 ran ~10 training jobs here, most of q93's wall time —
    // OPTIMIZATION_r22.md §4)
    val sample = sampleVectors(corpus, corpusId, vecCol, maxTrain)
    val cents = kmeansFromSample(sample, nCells, iters)
    val resSample = sample.map { x =>
      val ct = cents(nearestCellD(x, cents))
      Array.tabulate(x.length)(i => (x(i) - ct(i)).toFloat.toDouble)
    }
    val books = pqBooksFromSample(resSample, m, codewords, iters)
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    def residual(v: Column, cell: Column): Column =
      zip_with(v, element_at(centsLit, cell + 1), (x, c) => x - c)
        .cast("array<float>")
    // corpus side: cell assignment, residual, exact norm — carries ONLY
    // (id, cell, xnorm, rv): the raw vector is not needed downstream
    // (the exact re-rank reads the corpus directly), and cell/xnorm
    // ride pqEncode's passthrough so no corpus self-join re-attaches
    // them (both were measured scale costs in the r13 curve). No
    // persist: with training driver-side, the encode scan is this
    // frame's ONLY consumer.
    val assigned =
      corpus.select(col(corpusId).as("neighbor_id"), col(vecCol).as("cv"),
          nearestCellsExpr(cents, 1)(col(vecCol))(0).as("cell"))
        // sqrt(graft_dot), not the HOF norm(): this runs once per
        // corpus row on the encode scan, exactly the CodegenFallback
        // hot path graft_dot exists to avoid (r17 review); same
        // accumulation order, bit-equal
        .select(col("neighbor_id"), col("cell"),
          sqrt(call_function("graft_dot", col("cv"), col("cv"))).as("xnorm"),
          residual(col("cv"), col("cell")).as("rv"))
    val dsub = books(0)(0).length
    val enc = pqEncode(assigned, "neighbor_id", "rv", books,
      passthrough = Seq("cell", "xnorm"))
    // query side: one row per probed cell with the exact ⟨q, c⟩ term
    val q = queries
      .select(col(queryId).as("query_id"), col(vecCol).as("qv"),
        norm(col(vecCol)).as("qnorm"),
        explode(nearestCellsExpr(cents, nprobe)(col(vecCol))).as("cell"))
      .withColumn("qc_dot",
        call_function("graft_dot", col("qv"),
          element_at(typedLit(cents.map(_.map(_.toFloat).toSeq).toSeq),
            col("cell") + 1)))
    // same native-graft_dot ADC as pqTopK (float32 codeword literals;
    // shortlist-only precision, exact re-rank downstream)
    val adcResid = (0 until m).map { s =>
      val sub = slice(col("qv"), s * dsub + 1, dsub)
      val cbF = typedLit(books(s).map(_.map(_.toFloat).toSeq).toSeq)
      call_function("graft_dot", sub, element_at(cbF, col("codes")(s) + 1))
    }.reduce(_ + _)
    val shortlist = broadcast(q).join(enc, Seq("cell")) // inverted-list pruning
      .transform(dropSelf(_, excludeSelf))
      .select(col("query_id"), col("neighbor_id"),
        ((col("qc_dot") + adcResid) / (col("qnorm") * col("xnorm"))).as("cosine"))
    // NO distinct: probe cells are distinct per query and each encoded
    // neighbor lives in exactly one cell, so topKSelect's (query,
    // neighbor) pairs are already unique — same invariant as pqTopK
    // and ivfKmeansTopK (the old distinct was one wasted exchange of
    // the candidate set; r17 review)
    val cand = topKSelect(shortlist, k * rerank)
      .select(col("query_id"), col("neighbor_id"))
    val exact = cand
      .join(queries.select(col(queryId).as("query_id"), col(vecCol).as("qv")),
        "query_id")
      .join(corpus.select(col(corpusId).as("neighbor_id"), col(vecCol).as("cv")),
        "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosineExpr(col("qv"), col("cv")).as("cosine"))
    topKSelect(exact, k)
  }

  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              queryId: String, corpusId: String, vecCol: String,
              k: Int, planes: Int = 6, nprobe: Int = 3,
              excludeSelf: Boolean = true): DataFrame = {
    require(planes >= 1 && planes <= 64,
      s"ivfTopK: planes must be in [1, 64], got $planes")
    // probe p flips bit p-1: only `planes` flips address real cells;
    // an excess probe would match nothing and silently waste "recall"
    require(nprobe >= 1 && nprobe <= planes + 1,
      s"nprobe must be in [1, planes + 1 = ${planes + 1}], got $nprobe")
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(vecCol).as("cv"),
      bucketExpr(planes)(col(vecCol)).as("cell"))
    // probe cells: own bucket plus single-bit flips (deterministic
    // order). The bucket is projected ONCE and the lambda references
    // the attribute — capturing bucketExpr inline would re-hash the
    // vector per probe.
    val probes = transform(sequence(lit(0), lit(nprobe - 1)), p =>
      when(p === 0, col("own_cell"))
        .otherwise(col("own_cell").bitwiseXOR(call_function("shiftleft", lit(1L), p - 1))))
    val q = queries
      .select(col(queryId).as("query_id"), col(vecCol).as("qv"),
        bucketExpr(planes)(col(vecCol)).as("own_cell"))
      .select(col("query_id"), col("qv"), explode(probes).as("cell"))
    // NO distinct: own_cell and its single-bit flips are pairwise
    // distinct and each neighbor has one cell — (query, neighbor) pairs
    // are already unique (see ivfKmeansTopK)
    val scored = q.join(c, Seq("cell"))
      .transform(dropSelf(_, excludeSelf))
      .select(col("query_id"), col("neighbor_id"),
        cosineExpr(col("qv"), col("cv")).as("cosine"))
    topKSelect(scored, k)
  }
}
