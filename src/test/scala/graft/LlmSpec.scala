package graft

import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Multimodal, Similarity, Text}

class DedupSpec extends SparkSuite {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

  test("exact dedup keeps min id and counts copies") {
    val d = docs(1L -> "a b c", 2L -> "a b c", 3L -> "x y z")
    val got = Dedup.exact(d, Seq("text"), "doc_id")
      .select("keeper_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (3L, 1L)))
  }

  test("exactByFingerprint matches exact-by-text on keeper and counts") {
    val d = docs(5L -> "a b c", 2L -> "a b c", 3L -> "x y z", 4L -> "a b c")
    val byText = Dedup.exact(d, Seq("text"), "doc_id")
      .select("keeper_id", "n_copies").as[(Long, Long)].collect().toSet
    val byFp = Dedup.exactByFingerprint(d, "text", "doc_id")
      .select("keeper_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(byFp == byText && byFp == Set((2L, 3L), (3L, 1L)))
  }

  test("exactByFingerprint shuffles only Long columns — document text never a shuffle key") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.LongType
    val d = docs(1L -> "a b c", 2L -> "a b c", 3L -> "x y z")
    val keepers = Dedup.exactByFingerprint(d, "text", "doc_id")
    // sparkPlan predates EnsureRequirements (no exchanges yet) and AQE
    // wraps executedPlan — unwrap to the prepared physical plan
    val prepared = keepers.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val shuffles = prepared.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.nonEmpty, "expected a hash-aggregate exchange in the dedup plan")
    shuffles.foreach { e =>
      assert(e.child.output.forall(_.dataType == LongType),
        s"dedup shuffle carries non-Long columns: ${e.child.output.map(a => s"${a.name}:${a.dataType.simpleString}")}")
    }
  }

  test("shingleSet produces distinct k-grams; short docs collapse to whole text") {
    assert(Dedup.shingleSet("a b c d", 3).toSeq == Seq("a b c", "b c d"))
    assert(Dedup.shingleSet("a b a b a b", 3).toSeq == Seq("a b a", "b a b"))
    assert(Dedup.shingleSet("a b", 3).toSeq == Seq("a b"))
  }

  test("shingles Column twin agrees with the JVM kernel") {
    val d = docs(1L -> "a b c d e", 2L -> "x y")
    val viaCol = d.select(Dedup.shingles($"text", 3)).collect().map(_.getSeq[String](0).toSet)
    val viaJvm = d.collect().map(r => Dedup.shingleSet(r.getString(1), 3).toSet)
    assert(viaCol.toSeq == viaJvm.toSeq)
  }

  test("minhashLsh finds exact and near duplicates with correct jaccard") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (3 to 40).map(i => s"w$i").mkString(" ") // drop first 2 words
    val other = (1 to 40).map(i => s"z$i").mkString(" ")
    val d = docs(1L -> base, 2L -> base, 3L -> near, 4L -> other)
    val got = Dedup.minhashLsh(d, "doc_id", "text", 3, 64, 32, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)) && got.contains((1L, 3L)) && got.contains((2L, 3L)))
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L))
    val j12 = Dedup.minhashLsh(d, "doc_id", "text", 3, 64, 32, 0.5)
      .filter($"id_a" === 1L && $"id_b" === 2L)
      .select("jaccard").as[Double].head()
    assert(j12 == 1.0)
  }

  test("shingle pipelines run the native graft_shingle_hashes, with no RDD seam") {
    // range-backed input: a LocalRelation would let ConvertToLocalRelation
    // constant-fold the shingling at optimization time and hide it
    val d = spark.range(30).select($"id".as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(14)),
        i => concat(lit("w"), pmod($"id" + i, lit(9))))).as("text"))
    val lshPlan = Dedup.minhashLsh(d, "doc_id", "text", 3, 64, 16, 0.5)
      .queryExecution.executedPlan.toString
    val njPlan = Dedup.ngramJaccard(d.withColumn("blk", lit(1)),
        "doc_id", "text", "blk", 3, 0.3)
      .queryExecution.executedPlan.toString
    val contamPlan = Dedup.contamination(d, "doc_id", "text",
        d.limit(3), "text", k = 4)
      .queryExecution.executedPlan.toString
    for ((name, plan) <- Seq("minhashLsh" -> lshPlan, "ngramJaccard" -> njPlan,
        "contamination" -> contamPlan)) {
      assert(plan.contains("graft_shingle_hashes"), s"$name\n${plan.take(2000)}")
      // the old DataFrame->RDD->DataFrame hop surfaced as a Scan
      // ExistingRDD seam that broke codegen fusion and AQE stats
      assert(!plan.contains("ExistingRDD"), s"$name\n${plan.take(2000)}")
      assert(!plan.contains("UDF"), s"$name\n${plan.take(2000)}")
    }
    assert(lshPlan.contains("graft_band_keys"), lshPlan.take(2000))
  }

  test("simhashPairs finds identical docs at hamming 0") {
    val txt = (1 to 30).map(i => s"tok$i").mkString(" ")
    val d = docs(1L -> txt, 2L -> txt, 3L -> (1 to 30).map(i => s"q$i").mkString(" "))
    val got = Dedup.simhashPairs(d, "doc_id", "text", 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    assert(got.exists(r => r._1 == 1L && r._2 == 2L && r._3 == 0))
  }

  // ADVICE r10: null text used to flow into the null-intolerant shingle
  // expression, giving every null-text doc the same hs=null fingerprint
  // and declaring them all exact duplicates of each other
  test("null-text docs never join a duplicate class (minhashLsh / ngramJaccard)") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, base), (2L, base), (3L, null), (4L, null), (5L, null))
      .toDF("doc_id", "text")
    val lsh = Dedup.minhashLsh(d, "doc_id", "text", 3, 64, 32, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh == Set((1L, 2L))) // nulls pair with nothing, incl. each other
    val nj = Dedup.ngramJaccard(d.withColumn("blk", lit(1)),
        "doc_id", "text", "blk", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(nj == Set((1L, 2L)))
    // r17 review: simhashFingerprints used to NPE on a null text
    val sh = Dedup.simhashPairs(d, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sh == Set((1L, 2L)))
  }

  test("lshIncremental: exact re-ingest and near-dups drop, novel docs admitted") {
    val a = (1 to 40).map(i => s"w$i").mkString(" ")
    val b = (1 to 40).map(i => s"x$i").mkString(" ")
    val store = Dedup.minhashSignatures(
      docs(1L -> a, 2L -> b), "doc_id", "text")
    // batch: exact copy of a, a near-copy of b (one word changed),
    // one genuinely novel doc
    val nearB = ((1 to 39).map(i => s"x$i") :+ "CHANGED").mkString(" ")
    val novel = (1 to 40).map(i => s"z$i").mkString(" ")
    val batch = docs(10L -> a, 11L -> nearB, 12L -> novel)
    val kept = Dedup.lshIncremental(batch, "doc_id", "text", store,
        threshold = 0.5)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(12L), s"got $kept")
  }

  test("lshIncremental: maxBucket <= 0 disables the store cap, never inverts it (r17 review)") {
    val a = (1 to 40).map(i => s"w$i").mkString(" ")
    val store = Dedup.minhashSignatures(docs(1L -> a), "doc_id", "text")
    // pre-r17, maxBucket = 0 dropped EVERY store bucket and admitted
    // the exact re-ingest below
    val kept = Dedup.lshIncremental(docs(10L -> a), "doc_id", "text", store,
        threshold = 0.5, maxBucket = 0)
      .select("id").as[Long].collect().toSet
    assert(kept.isEmpty, s"duplicate admitted with cap disabled: $kept")
  }

  test("lshIncremental: within-batch keep-first, deterministic across partitionings") {
    val t1 = (1 to 50).map(i => s"a$i").mkString(" ")
    val t2 = (1 to 50).map(i => s"b$i").mkString(" ")
    val emptyStore = Dedup.minhashSignatures(
      docs(), "doc_id", "text")
    val batch = docs(5L -> t1, 3L -> t1, 7L -> t2, 9L -> t2, 8L -> t2)
    val kept = Dedup.lshIncremental(batch, "doc_id", "text", emptyStore)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(3L, 7L)) // min id of each duplicate class
    val kept2 = Dedup.lshIncremental(batch.repartition(7), "doc_id", "text",
        emptyStore).select("id").as[Long].collect().toSet
    assert(kept2 == kept)
  }

  test("lshIncremental: null text dropped, never admitted or matched") {
    val t = (1 to 40).map(i => s"w$i").mkString(" ")
    val store = Dedup.minhashSignatures(docs(1L -> t), "doc_id", "text")
    val batch = Seq((10L, null), (11L, null), (12L, t))
      .toDF("doc_id", "text")
    val kept = Dedup.lshIncremental(batch, "doc_id", "text", store)
      .select("id").as[Long].collect().toSet
    assert(kept == Set.empty[Long]) // t is a store dup; nulls dropped
  }

  test("lshIncrementalIndexed equals lshIncremental for an index of the same store") {
    def mk(n: Int, p: String) = (1 to n).map(i => s"$p$i").mkString(" ")
    val store = Dedup.minhashSignatures(
        docs(1L -> mk(40, "w"), 2L -> mk(40, "x"), 3L -> mk(40, "y")),
        "doc_id", "text")
      .persist()
    store.count()
    val idx = Dedup.lshBandIndex(store).persist()
    idx.count()
    // exact re-ingest, near-dup, within-batch dup pair, novel
    val nearX = ((1 to 39).map(i => s"x$i") :+ "CHANGED").mkString(" ")
    val batch = docs(10L -> mk(40, "w"), 11L -> nearX, 12L -> mk(40, "z"),
      13L -> mk(40, "z"), 14L -> mk(50, "q")).repartition(5)
    for (th <- Seq(0.5, 0.9)) {
      val viaSig = Dedup.lshIncremental(batch, "doc_id", "text", store,
        threshold = th).select("id").as[Long].collect().toSet
      val viaIdx = Dedup.lshIncrementalIndexed(batch, "doc_id", "text",
        store, idx, threshold = th).select("id").as[Long].collect().toSet
      assert(viaIdx == viaSig, s"threshold $th: indexed $viaIdx != sig-path $viaSig")
    }
    store.unpersist(); idx.unpersist()
  }

  test("lshIncremental: a store built with a different numHashes fails loudly") {
    // r16 advice regression: zip_with null-pads mismatched signature
    // arrays and the agreement count maps nulls to 0, so a mismatched
    // store would silently admit every duplicate instead of raising
    val t = (1 to 40).map(i => s"w$i").mkString(" ")
    val store32 = Dedup.minhashSignatures(docs(1L -> t), "doc_id", "text",
      numHashes = 32)
    val batch = docs(10L -> t)
    val e = intercept[Exception] {
      Dedup.lshIncremental(batch, "doc_id", "text", store32).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("signature size"),
      s"got ${e.getMessage}")
  }

  test("split band-key kernels compose to the fused one (store/batch can never drift)") {
    val texts = Seq((1 to 30).map(i => s"w$i").mkString(" "), "one two", "solo")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val both = df.select(
        call_function("graft_band_keys",
          call_function("graft_shingle_hashes", $"text", lit(3)),
          lit(64), lit(16)).as("fused"),
        call_function("graft_band_keys_sig",
          call_function("graft_minhash_sig",
            call_function("graft_shingle_hashes", $"text", lit(3)), lit(64)),
          lit(16)).as("split"))
      .as[(Seq[Long], Seq[Long])].collect()
    both.foreach { case (f, sp) => assert(f == sp) }
  }

  test("ngramJaccard computes the exact set jaccard within blocks") {
    // doc1 shingles {a b c, b c d}; doc2 {b c d, c d e} → J = 1/3
    val d = Seq((1L, "a b c d", "blk"), (2L, "b c d e", "blk"),
      (3L, "a b c d", "other")).toDF("doc_id", "text", "src")
    val got = Dedup.ngramJaccard(d, "doc_id", "text", "src", 3, 0.0)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 1.0 / 3.0)))
  }

  test("ngramJaccard prefix filtering loses no pair at threshold (brute-force diff)") {
    val rnd = new scala.util.Random(7)
    val vocab = (1 to 25).map(i => s"w$i")
    val base = (1L to 40L).map { i =>
      val n = 6 + rnd.nextInt(10)
      i -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    // salt guaranteed near-dups: every 5th doc re-emitted minus its
    // first word (high-but-not-1 jaccard), plus one exact duplicate
    val texts = base ++ base.collect { case (i, txt) if i % 5 == 0 =>
      (i + 100L) -> txt.split(' ').drop(1).mkString(" ")
    } :+ (200L -> base.head._2)
    val t = 0.3
    val d = texts.toDF("doc_id", "text").withColumn("blk", lit(1))
    val got = Dedup.ngramJaccard(d, "doc_id", "text", "blk", 3, t)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val sets = texts.map { case (i, txt) => i -> Dedup.shingleSet(txt, 3).toSet }.toMap
    val ids = texts.map(_._1)
    val want = (for {
      a <- ids; b <- ids if a < b
      inter = sets(a).intersect(sets(b)).size
      union = sets(a).union(sets(b)).size
      j = if (union == 0) 0.0 else inter.toDouble / union
      if j >= t
    } yield (a, b, j)).toSet
    assert(got == want && want.nonEmpty)
  }

  test("simhash JVM kernel is bit-identical to the Column form") {
    val synthetic = docs(1L -> "a b c", 2L -> "the quick brown fox", 3L -> "x",
      4L -> "a a b b", 5L -> (1 to 50).map(i => s"tok$i").mkString(" "))
    val real = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text").limit(50)
    for (d <- Seq(synthetic, real)) {
      val viaCol = d.select($"doc_id", Dedup.simhash($"text")).as[(Long, Long)].collect().toSet
      val viaK = Dedup.simhashFingerprints(d, "doc_id", "text")
        .as[(Long, Long)].collect().toSet
      assert(viaCol == viaK)
    }
  }

  test("components chains pairs into clusters with min-id keepers") {
    val pairs = Seq((2L, 1L), (2L, 3L), (5L, 6L), (3L, 4L))
      .toDF("id_a", "id_b")
    val got = Dedup.components(pairs)
      .as[(Long, Long, Boolean)].collect().toSet
    // {1,2,3,4} chains through 2 and 3 even though (1,4) was never a
    // pair; {5,6} separate; keepers are the component minima
    assert(got == Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 1L, false), (5L, 5L, true), (6L, 5L, false)))
  }

  test("small-graph shortcut labels equal the distributed path, incl. schema") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(80)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }.toDF("id_a", "id_b")
    val viaDriver = Dedup.components(pairs) // default: under the threshold
    val viaDist = Dedup.components(pairs, smallGraph = 0L)
    assert(viaDriver.schema == viaDist.schema)
    assert(viaDriver.as[(Long, Long, Boolean)].collect().toSet ==
      viaDist.as[(Long, Long, Boolean)].collect().toSet)
  }

  test("components converges on a long chain (diameter rounds)") {
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.components(chain, smallGraph = 0L).as[(Long, Long, Boolean)].collect()
    assert(got.length == 12 && got.forall(_._2 == 1L))
  }

  test("components escalates to star contraction on a 1000-node path graph") {
    // diameter 999 ≫ the propagation budget: before round 9 this threw
    // at maxIters; now it must degrade to the O(log² n) contraction
    val chain = (0L until 999L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.components(chain, smallGraph = 0L).as[(Long, Long, Boolean)].collect()
    assert(got.length == 1000 && got.forall(_._2 == 0L) && got.count(_._3) == 1)
  }

  test("star contraction budget is independent of a small maxIters") {
    // maxIters caps PROPAGATION; the contraction's own budget must not
    // shrink with it, or the escalation re-aborts on the long chains it
    // exists for
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.components(chain, maxIters = 6, starAfter = 2, smallGraph = 0L)
      .as[(Long, Long, Boolean)].collect()
    assert(got.length == 201 && got.forall(_._2 == 0L))
  }

  test("star-contraction labels equal propagation labels on a random graph") {
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }.toDF("id_a", "id_b")
    val viaProp = Dedup.components(pairs, maxIters = 60, starAfter = 60, smallGraph = 0L)
      .as[(Long, Long, Boolean)].collect().toSet
    val viaStar = Dedup.components(pairs, maxIters = 60, starAfter = 0, smallGraph = 0L)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(viaStar == viaProp)
  }

  /** Reference labels: driver-side union-find, min id per component. */
  private def unionFindLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // roots are component minima because unions always point the larger
    // root at the smaller one
    parent.keys.map(v => v -> find(v)).toMap
  }

  test("starContraction components equal union-find on random graphs (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => ScTest}
    val graphGen = for {
      n <- Gen.chooseNum(2, 30)
      nEdges <- Gen.chooseNum(1, 2 * n)
      edges <- Gen.listOfN(nEdges, for {
        a <- Gen.chooseNum(0, n - 1); b <- Gen.chooseNum(0, n - 1)
      } yield (a.toLong, b.toLong))
    } yield edges.filter { case (a, b) => a != b }.distinct
    val prop = Prop.forAll(graphGen) { edges =>
      edges.isEmpty || {
        val pairs = edges.toDF("id_a", "id_b")
        // starAfter = 0 forces the contraction path immediately
        val got = Dedup.components(pairs, maxIters = 60, starAfter = 0, smallGraph = 0L)
          .select("doc", "component").as[(Long, Long)].collect().toMap
        got == unionFindLabels(edges)
      }
    }
    // each sample runs an iterative Spark job, so fewer-but-bigger
    // samples than scalacheck's default 100
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("starContraction converges within 2·log²(n) rounds on chains") {
    for (n <- Seq(64L, 256L, 1024L)) {
      val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val edges = chain.select(col("id_a").as("a"), col("id_b").as("b"))
        .union(chain.select(col("id_b").as("a"), col("id_a").as("b")))
      val (labels, rounds) = Dedup.starContractionImpl(edges, maxIters = 64)
      val log2n = math.log(n.toDouble) / math.log(2.0)
      assert(rounds <= 2 * log2n * log2n,
        s"n=$n: $rounds rounds > 2·log²(n) = ${2 * log2n * log2n}")
      // and the result is one star centered at 0: the fixpoint edge set
      // maps every member to the center, which has no self-row (the
      // caller coalesces it — see components' left join)
      val lab = labels.as[(Long, Long)].collect()
      assert(lab.length == n - 1 && lab.forall(_._2 == 0L) &&
        !lab.exists(_._1 == 0L), s"n=$n labels wrong")
    }
  }

  test("contamination counts shared k-gram shingles against a benchmark set") {
    val corpus = docs(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "one two three four five six",
      3L -> "beta gamma delta epsilon zeta eta")
    val bench = Seq("alpha beta gamma delta epsilon zeta").toDF("q")
    val got = Dedup.contamination(corpus, "doc_id", "text", bench, "q", k = 4)
      .as[(Long, Long)].collect().toMap
    // bench 4-grams: {a b g d, b g d e, g d e z}; doc1 has all 3,
    // doc3 shares {b g d e, g d e z}... within its own 4-grams:
    // {b g d e, g d e z, d e z eta} → 2 hits; doc2 none
    assert(got == Map(1L -> 3L, 3L -> 2L))
  }

  test("embeddingNearDup pairs identical vectors at cosine 1") {
    val v = Array.tabulate(64)(i => (math.sin(i) / 4).toFloat)
    val w = Array.tabulate(64)(i => (math.cos(i * 3 + 1) / 4).toFloat)
    val d = Seq((1L, v), (2L, v), (3L, w)).toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDup(d, "vec_id", "embedding", 0.99, 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }

  test("multi-table embeddingNearDup recall is monotone: tables=T superset of tables=1") {
    val rnd = new scala.util.Random(7)
    val d = (0L to 60L).map(i => (i, Array.fill(32)((rnd.nextGaussian() / 6).toFloat)))
      .toDF("vec_id", "embedding")
    def pairs(tables: Int) =
      Dedup.embeddingNearDup(d, "vec_id", "embedding", 0.2, 8, tables = tables)
        .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect().toSet
    val one = pairs(1)
    val three = pairs(3)
    // table 0 of the multi-table index IS the single-table bucket
    // (offset 0), so every tables=1 pair must survive, with the same
    // verified cosine; extra tables may only ADD candidates
    assert(one.subsetOf(three))
  }
}

class SemDedupSpec extends SparkSuite {
  import spark.implicits._
  import graft.llm.Dedup

  test("semDedup: transitive components, min-id keepers, isolated rows kept") {
    // 1–2–6 chain one semantic-dup component (keeper 1), 3–4 another
    // (keeper 3), 5 isolated (its own keeper)
    val vecs = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0.99f, 0.01f, 0f, 0f)),
      (3L, Seq(0f, 1f, 0f, 0f)),
      (4L, Seq(0f, 0.98f, 0.02f, 0f)),
      (5L, Seq(0f, 0f, 1f, 0f)),
      (6L, Seq(0.995f, 0.005f, 0f, 0f))).toDF("vec_id", "embedding")
    val got = Dedup.semDedup(vecs, "vec_id", "embedding", nCells = 1, threshold = 0.95)
      .orderBy($"id").as[(Long, Int, Long, Boolean)].collect().toSeq
    assert(got.map(r => (r._1, r._3, r._4)) == Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 3L, true),
      (4L, 3L, false), (5L, 5L, true), (6L, 1L, false)))
  }

  test("semDedup: an over-maxCell cell is excluded from pairing, members all keepers (r17 review)") {
    val vecs = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.99f, 0.01f)), (3L, Seq(0.995f, 0.005f)))
      .toDF("vec_id", "embedding")
    val got = Dedup.semDedup(vecs, "vec_id", "embedding",
        nCells = 1, threshold = 0.9, maxCell = 2)
      .orderBy($"id").as[(Long, Int, Long, Boolean)].collect().toSeq
    // the single cell holds 3 > maxCell=2 docs: no pairs, everyone keeps
    assert(got.map(r => (r._1, r._3, r._4)) == Seq(
      (1L, 1L, true), (2L, 2L, true), (3L, 3L, true)))
    // and with the cap disabled the same corpus collapses to one keeper
    val uncapped = Dedup.semDedup(vecs, "vec_id", "embedding",
        nCells = 1, threshold = 0.9, maxCell = 0)
      .filter($"is_keeper").count()
    assert(uncapped == 1L)
  }

  test("semDedup invariants on real embeddings: full cover, one keeper per component, within-cell") {
    val v = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val res = Dedup.semDedup(v, "vec_id", "embedding", nCells = 8, threshold = 0.4)
    assert(res.count() == v.count())
    val bad = res.groupBy($"component")
      .agg(min($"id").as("mn"),
        sum(when($"is_keeper", 1L).otherwise(0L)).as("nk"),
        countDistinct($"cell").as("nc"))
      .filter($"mn" =!= $"component" || $"nk" =!= 1L || $"nc" > 1)
    assert(bad.isEmpty)
  }
}

class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  private def vecs(rows: (Long, Array[Float])*) = rows.toSeq.toDF("vec_id", "embedding")

  test("lloydLocal empty-cell reseed survives large-magnitude coordinates") {
    // two tight clusters at ~1e14: with an ABSOLUTE 1e-4 jitter the
    // reseeded centroid is bit-identical to its split source (below
    // ulp), so the empty cell persists as a duplicate centroid; the
    // relative jitter must yield k distinct centroids
    val data = Array(
      Array(1e14, 1e14), Array(1e14 + 4e8, 1e14),
      Array(-1e14, -1e14), Array(-1e14, -1e14 + 4e8))
    // k=3 over 2 clusters → one cell goes empty and must re-seed
    val init = Array(Array(1e14, 1e14), Array(-1e14, -1e14), Array(5e20, 5e20))
    val cents = Similarity.lloydLocal(data, init, iters = 2)
    assert(cents.map(_.toSeq).distinct.length == 3,
      s"duplicate centroids after reseed: ${cents.map(_.mkString("(", ",", ")")).mkString(" ")}")
  }

  test("excludeSelf=false: a corpus row sharing a query's id value is returned (r17 review)") {
    // independent id spaces: query 1 and corpus 1 are DIFFERENT rows;
    // the default self-filter would silently drop the true neighbor
    val base = Array.tabulate(8)(i => (i + 1).toFloat)
    val queries = vecs(1L -> base)
    val corpus = vecs(1L -> base.map(_ * 2f), 2L -> Array.tabulate(8)(i => if (i == 0) 1f else 0f))
    val without = Similarity.bruteForceTopK(queries, corpus,
        "vec_id", "vec_id", "embedding", 1)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(without == Seq(2L)) // default: id 1 excluded as "self"
    val got = Similarity.bruteForceTopK(queries, corpus,
        "vec_id", "vec_id", "embedding", 1, excludeSelf = false)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(got == Seq(1L), got) // same-direction corpus row wins
  }

  test("top-k rejects non-integral id columns with a clear message (r17 review)") {
    val base = Array.tabulate(4)(_.toFloat + 1f)
    val df = Seq(("a", base), ("b", base.map(_ * 2f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(df, df, "vec_id", "vec_id", "embedding", 1)
    }
    assert(e.getMessage.contains("integral id"), e.getMessage)
  }

  test("training samples skip null vectors instead of NPE-ing (r17 review)") {
    val df = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)), (3L, null))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(df, "vec_id", "embedding", 2, 1)
    assert(cents.length == 2)
  }

  test("training samples skip null ids instead of NPE-ing in the driver-side id sort") {
    val df = Seq((Some(1L), Array(1f, 0f)), (Some(2L), Array(0f, 1f)),
        (None, Array(1f, 1f)), (Some(3L), Array(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(df, "vec_id", "embedding", 2, 1)
    assert(cents.length == 2)
  }

  test("plane components do not collide across planes for dim > 64 (r17 review)") {
    // pre-r17 stride 64: bucket bit j of one-hot(64+i) equaled bit j
    // of plane j+1 at i — adjacent planes shared shifted components.
    // Distinct high dims must now see independent components: two
    // dim-128 one-hot vectors at 64 and 65 get buckets from distinct
    // component streams (and the old aliasing identity no longer holds)
    def oneHot(dim: Int, at: Int) = Array.tabulate(dim)(i => if (i == at) 1f else 0f)
    val b64 = Similarity.bucketK(oneHot(128, 64).toSeq, planes = 16)
    val b0shift = Similarity.bucketK(oneHot(64, 0).toSeq, planes = 16)
    // old code: bucket(one-hot 64) bit j == sign(comp(j+1, 0)) ==
    // bucket(one-hot 0) bit j+1 — i.e. b64 == b0shift >> 1. Refuted now:
    assert(b64 != (b0shift >> 1), s"plane aliasing survives: $b64")
    // dim guard: wider than the stride fails loudly
    val e = intercept[IllegalArgumentException] {
      Similarity.bucketK(Array.fill(4097)(1f).toSeq, planes = 2)
    }
    assert(e.getMessage.contains("stride"))
    // planes bounds enforced at the API
    val e2 = intercept[IllegalArgumentException] {
      Similarity.lshTopK(vecs(1L -> oneHot(8, 0)), vecs(2L -> oneHot(8, 1)),
        "vec_id", "vec_id", "embedding", 1, planes = 0)
    }
    assert(e2.getMessage.contains("planes"))
  }

  test("cosine: identical → 1, orthogonal → 0, zero vector → null") {
    val a = Array(1f, 0f); val b = Array(0f, 1f); val z = Array(0f, 0f)
    val df = Seq((a, a), (a, b), (a, z)).toDF("x", "y")
    val got = col0(df.select(Similarity.cosine($"x", $"y")))
    assert(got == Seq(1.0, 0.0, null))
  }

  test("bruteForceTopK returns k neighbors ranked by cosine desc") {
    val base = Array.tabulate(8)(i => (i + 1).toFloat)
    val close = base.map(x => x * 2f) // same direction → cosine 1
    val far = Array.tabulate(8)(i => if (i == 0) 1f else 0f)
    val d = vecs(0L -> base, 1L -> close, 2L -> far, 3L -> base.map(-_))
    val got = Similarity.bruteForceTopK(d.filter($"vec_id" === 0), d,
        "vec_id", "vec_id", "embedding", 2)
      .select("neighbor_id", "rk").as[(Long, Int)].collect().toSeq
    assert(got == Seq((1L, 1), (2L, 2))) // close first, negative last
  }

  test("lshBucket is deterministic and groups identical vectors") {
    val v = Array.tabulate(64)(i => (math.sin(i) / 4).toFloat)
    val d = vecs(1L -> v, 2L -> v)
    val buckets = col0(d.select(Similarity.lshBucket($"embedding", 8))).distinct
    assert(buckets.size == 1)
  }

  test("lshTopK finds the identical-vector neighbor (same bucket by construction)") {
    val v = Array.tabulate(64)(i => (math.cos(i) / 4).toFloat)
    val w = Array.tabulate(64)(i => (math.sin(i * 7 + 2) / 4).toFloat)
    val d = vecs(1L -> v, 2L -> v, 3L -> w)
    val got = Similarity.lshTopK(d.filter($"vec_id" === 1), d,
        "vec_id", "vec_id", "embedding", 1, 6)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(got == Seq(2L))
  }

  test("lsh bucket is the native graft_lsh_bucket expression, not a Scala UDF") {
    // range-backed input: a LocalRelation would let ConvertToLocalRelation
    // constant-fold the bucket at optimization time and hide it
    val d = spark.range(20).select($"id".as("vec_id"),
      expr("transform(sequence(0, 63), i -> cast(sin(id * (i + 1)) / 4 as float))")
        .as("embedding"))
    val plan = graft.llm.Dedup.embeddingNearDup(d, "vec_id", "embedding", 0.9, 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_lsh_bucket"), plan.take(2000))
    assert(!plan.contains("UDF"), plan.take(2000))
  }

  test("cosineExpr is bit-identical to the cosineK kernel (null for zero vectors)") {
    val rnd = new scala.util.Random(13)
    val rows = (0L to 25L).map(i =>
      (i, Array.fill(32)((rnd.nextGaussian() / 6).toFloat),
        if (i == 7) Array.fill(32)(0f)
        else Array.fill(32)((rnd.nextGaussian() / 6).toFloat)))
    val d = rows.toDF("id", "x", "y")
    val viaExpr = d.select($"id", Similarity.cosineExpr($"x", $"y"))
      .as[(Long, Option[Double])].collect().toMap
    val viaKernel = rows.map { case (i, x, y) =>
      i -> Similarity.cosineK(x.toSeq, y.toSeq) }.toMap
    assert(viaExpr == viaKernel)
  }

  test("bucketExpr is bit-identical to the HOF lshBucket Column form") {
    val rnd = new scala.util.Random(11)
    val d = vecs((0L to 30L).map(i =>
      i -> Array.fill(64)((rnd.nextGaussian() / 8).toFloat)): _*)
    val diff = d.select(
        Similarity.bucketExpr(8)($"embedding").as("native"),
        Similarity.lshBucket($"embedding", 8).as("hof"))
      .filter($"native" =!= $"hof").count()
    assert(diff == 0)
  }

  test("multi-table lshTopK recall is monotone and ranks by exact cosine") {
    val rnd = new scala.util.Random(5)
    val d = vecs((0L to 40L).map(i =>
      i -> Array.fill(32)((rnd.nextGaussian() / 6).toFloat)): _*)
    val q = d.filter($"vec_id" < 5)
    def res(tables: Int) =
      Similarity.lshTopK(q, d, "vec_id", "vec_id", "embedding", 3, 8, tables)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // per query, the tables=3 candidate pool contains the tables=1 pool,
    // so every (query, neighbor) either survives or is displaced by a
    // strictly better (higher-cosine) neighbor the extra tables found;
    // here we assert the weaker monotone-candidate property on the
    // union of emitted pairs per query count
    val one = res(1)
    val three = res(3)
    assert(three.size >= one.size)
    assert(one.map(_._1).subsetOf(three.map(_._1)))
  }

  // VERDICT r10 item 5: q80's whole pipeline (3 hyperplane-table
  // bucketings + dedup + exact scoring) must stay native expressions —
  // a Scala UDF anywhere would break whole-stage codegen on the path
  // that fans out 3x per row
  test("multi-table lshTopK plan contains no Scala UDF") {
    val d = spark.range(30).select($"id".as("vec_id"),
      expr("transform(sequence(0, 31), i -> cast(sin(id * (i + 1)) / 4 as float))")
        .as("embedding"))
    val plan = Similarity.lshTopK(d.filter($"vec_id" < 3), d,
        "vec_id", "vec_id", "embedding", 3, 8, 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), plan.take(3000))
    assert(plan.contains("graft_lsh_bucket"), plan.take(3000))
  }

  test("ivfTopK rejects nprobe beyond planes + 1 (probes would address no cell, r17 review)") {
    val df = Seq((1L, Seq(1f, 0f))).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      graft.llm.Similarity.ivfTopK(df, df, "id", "id", "v",
        k = 1, planes = 2, nprobe = 4)
    }
    assert(e.getMessage.contains("nprobe"))
  }

  test("ivfTopK probes sibling cells and never returns self") {
    val rnd = new scala.util.Random(3)
    val d = vecs((0L to 20L).map(i =>
      i -> Array.fill(64)((rnd.nextGaussian() / 8).toFloat)): _*)
    val got = Similarity.ivfTopK(d.filter($"vec_id" < 3), d,
      "vec_id", "vec_id", "embedding", 3, 6, 3)
    assert(got.filter($"query_id" === $"neighbor_id").count() == 0)
    assert(got.count() > 0)
  }
}

class TextSpec extends SparkSuite {
  import spark.implicits._

  test("token counts: whitespace vs regex (punctuation splits)") {
    val df = Seq("hello world, it's 42").toDF("text")
    assert(col0(df.select(Text.tokenCountWs($"text"))) == Seq(4L))
    // hello | world | , | it | ' | s | 42 → 7
    assert(col0(df.select(Text.tokenCountRegex($"text"))) == Seq(7L))
  }

  test("langId picks the language with most marker hits") {
    val df = Seq("the cat and the dog", "el gato de la casa", "der hund und die katze")
      .toDF("text")
    assert(col0(df.select(Text.langIdHeuristic($"text"))) == Seq("en", "es", "de"))
  }

  test("NULL text: qualityScore and tokenCountWs yield NULL; budget samplers exclude it (r17 review)") {
    val df = Seq((1L, "alpha beta gamma delta", "s1"),
      (2L, null.asInstanceOf[String], "s1")).toDF("doc_id", "text", "src")
    val qs = df.select(Text.qualityScore($"text")).as[Option[Double]]
      .collect().toSeq
    assert(qs(0).nonEmpty && qs(1).isEmpty,
      s"null text must score NULL (pre-r17: 0.697 passed every gate): $qs")
    assert(df.select(Text.tokenCountWs($"text")).as[Option[Long]]
      .collect().toSeq == Seq(Some(4L), None))
    // pre-r17 the null doc entered the prefix with n_tokens = -1
    val kept = Text.sampleByTokenBudget(df, "doc_id", "text", "src", 100L)
      .select("doc").as[Long].collect().toSeq
    assert(kept == Seq(1L))
    val packed = Text.packSequences(df, "doc_id", "text", 10L)
      .select("doc").as[Long].collect().toSeq
    assert(packed == Seq(1L))
  }

  test("NULL text: the remaining signal family yields NULL/empty, never fabricated values (r17 review pass 2)") {
    val df = Seq((1L, "the cat and the dog of the house in a box"),
      (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    // langId: -1 >= -1 made null text identify as "en"
    assert(df.select(Text.langIdHeuristic($"text")).as[Option[String]]
      .collect().toSeq.map(_.isDefined) == Seq(true, false))
    // stopwordRatio: (-1)/(-1) scored null text 1.0
    assert(df.select(Text.stopwordRatio($"text")).as[Option[Double]]
      .collect().toSeq.map(_.isDefined) == Seq(true, false))
    // chunk: null text emitted a bogus (n_words = -1, null) chunk row
    val ch = Text.chunk(df, "doc_id", "text", chunkWords = 4, stride = 3)
    assert(ch.filter($"doc" === 2L).count() == 0L)
    assert(ch.filter($"n_words" < 0).count() == 0L)
    // lineSignals: n_lines = -1 and frac_short_lines = 1.0 leaked
    val ls = Text.lineSignals(df, "doc_id", "text")
      .filter($"doc_id" === 2L).collect()(0)
    assert((1 to 4).forall(ls.isNullAt), ls)
    // strata samplers: null-quality docs landed in stratum 0
    val many = (1 to 30).map(i => (i.toLong, s"words w$i x$i y$i z$i make quality")) :+
      (99L, null.asInstanceOf[String])
    val strat = Text.sampleByQualityStrata(many.toDF("doc_id", "text"),
      "doc_id", "text", strata = 3)
    assert(strat.filter($"doc_id" === 99L).count() == 0L)
    // tfidf: nDocs counted null-text docs, inflating every idf — a
    // term in ALL scorable docs must idf to exactly 0
    val tf = Text.tfidf(Seq((1L, "common alpha"), (2L, "common beta"),
        (3L, null.asInstanceOf[String])).toDF("doc_id", "text"),
      "doc_id", "text")
    val common = tf.filter($"term" === "common").select("tfidf")
      .as[Double].collect().toSeq
    assert(common.nonEmpty && common.forall(_ == 0.0), common)
  }

  test("quality score stays in [0,1] and rewards diverse long docs") {
    val low = "a a a a a"
    val high = (1 to 120).map(i => s"w$i").mkString(" ")
    val df = Seq(low, high).toDF("text")
    val Seq(ql, qh) = col0(df.select(Text.qualityScore($"text"))).map(_.asInstanceOf[Double])
    assert(ql >= 0.0 && qh <= 1.0 && qh > ql)
  }

  test("repetitionSignals: hand-computed fractions, short-doc and empty-doc edges") {
    // doc 1: words [a,b,a,b,c], 9 chars. 2-grams: "a b"×2 (len 3) → top2
    //   = 2*3 = 6 → 6/9 = 0.6667; the single 5-gram is unique → dup5 0;
    //   <10 words → dup10 0.
    // doc 2: "v w x y z" ×3 = 15 words, 29 chars. top 2-gram "v w"×3,
    //   len 3 → 9/29 = 0.3103. dup5: "v w x y z"×3 + four grams ×2, all
    //   len 9 → (3-1)*9 + 4*(2-1)*9 = 54 → 54/29 clamps to 1.0. dup10:
    //   positions 1 and 6 coincide → (2-1)*19 = 19 → 19/29 = 0.6552.
    // doc 3: single word → no 2-grams → all 0.0 (not null).
    // doc 4: empty text → n_chars 0 → all 0.0 (not null).
    val df = Seq(
      (1L, "a b a b c"),
      (2L, "v w x y z v w x y z v w x y z"),
      (3L, "hello"),
      (4L, "")).toDF("doc_id", "text")
    val got = Text.repetitionSignals(df, "doc_id", "text")
      .orderBy($"doc_id")
      .as[(Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 0.6667, 0.0, 0.0),
      (2L, 0.3103, 1.0, 0.6552),
      (3L, 0.0, 0.0, 0.0),
      (4L, 0.0, 0.0, 0.0)))
  }

  test("lexicalDiversity: hand-computed TTR and entropy, degenerate edges") {
    // doc 1: [a,b,a,b,c] → n=5, types=3, TTR 0.6;
    //   H = −(0.4·log2 0.4 ·2 + 0.2·log2 0.2) = 1.5219
    // doc 2: four copies of one word → TTR 0.25, H 0
    // doc 3: empty text → one empty word → TTR 1.0, H 0
    // doc 4: four distinct words → TTR 1.0, H = log2 4 = 2
    val df = Seq(
      (1L, "a b a b c"),
      (2L, "x x x x"),
      (3L, ""),
      (4L, "a b c d")).toDF("doc_id", "text")
    val got = Text.lexicalDiversity(df, "doc_id", "text")
      .orderBy($"doc_id")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 5L, 0.6, 1.5219),
      (2L, 4L, 0.25, 0.0),
      (3L, 1L, 1.0, 0.0),
      (4L, 4L, 1.0, 2.0)))
  }

  test("importanceWeights: exact decimal re-derivation; target-domain doc outscores disjoint-vocab doc") {
    val df = Seq(
      (1L, "a b", "src0"),
      (2L, "a c", "src1"),
      (3L, "c c c", "src1")).toDF("doc_id", "text", "source")
    val got = Text.importanceWeights(df, "doc_id", "text", $"source" === "src0")
      .orderBy($"doc").as[(Long, Long, Double, Double)].collect().toSeq
    // driver-side re-derivation with the same decimal(28,12) term cast
    val corpus = Seq(1L -> ("a b", true), 2L -> ("a c", false), 3L -> ("c c c", false))
    val toks = corpus.flatMap { case (id, (t, tgt)) => t.split(" ").map(w => (id, w, tgt)) }
    val byWord = toks.groupBy(_._2)
    val nRaw = toks.size.toDouble
    val nTgt = toks.count(_._3).toDouble
    val v = byWord.size.toDouble
    def term(w: String): BigDecimal = BigDecimal(
      math.log((byWord(w).count(_._3) + 0.5) / (nTgt + 0.5 * v))
        - math.log((byWord(w).size + 0.5) / (nRaw + 0.5 * v)))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val expected = corpus.map { case (id, (t, _)) =>
      val ws = t.split(" ").toSeq
      val s = ws.map(term).sum.toDouble
      (id, ws.size.toLong, r6(s), r6(s / ws.size))
    }
    assert(got == expected)
    // doc 1 shares the target's vocabulary; doc 3 is disjoint from it
    assert(got.head._4 > got.last._4)
  }

  test("chunk: strided starts + anchored full-window tail; short and empty docs give one chunk") {
    val df = Seq(
      (1L, "w1 w2 w3"),
      (2L, (1 to 10).map("t" + _).mkString(" ")),
      (3L, "")).toDF("doc_id", "text")
    val got = Text.chunk(df, "doc_id", "text", chunkWords = 4, stride = 3)
      .orderBy($"doc", $"chunk_id")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    // doc 2: n=10 → m = ceil(6/3) = 2 strided starts {0, 3}, tail at 6 —
    // the tail is a FULL window ending exactly at the last word
    assert(got == Seq(
      (1L, 0L, 0L, 3L, "w1 w2 w3"),
      (2L, 0L, 0L, 4L, "t1 t2 t3 t4"),
      (2L, 1L, 3L, 4L, "t4 t5 t6 t7"),
      (2L, 2L, 6L, 4L, "t7 t8 t9 t10"),
      (3L, 0L, 0L, 1L, "")))
    // divisible case: the last strided start must not duplicate the tail
    val div = Seq((9L, (1 to 8).map("u" + _).mkString(" "))).toDF("doc_id", "text")
    val starts = Text.chunk(div, "doc_id", "text", chunkWords = 4, stride = 2)
      .select($"start_word").as[Long].collect().toSeq.sorted
    assert(starts == Seq(0L, 2L, 4L))
  }

  test("bigramLogProb: exact decimal re-derivation; <2-word docs dropped") {
    val df = Seq(
      (1L, "a b a"), (2L, "b b"), (3L, "solo"), (4L, "")).toDF("doc_id", "text")
    val got = Text.bigramLogProb(df, "doc_id", "text")
      .orderBy($"doc").as[(Long, Long, Double)].collect().toSeq
    // corpus: ug a:2 b:3 solo:1 "":1, N=7; bigrams (a,b):1 (b,a):1 (b,b):1
    def term(cVw: Long, cPrev: Long, cCur: Long): BigDecimal = BigDecimal(
      math.log((cVw + (cCur.toDouble / 7L) * 0.5) / (cPrev + 0.5)))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val d1 = (term(1, 2, 3) + term(1, 3, 2)).toDouble // (a,b) then (b,a)
    val d2 = term(1, 3, 3).toDouble                   // (b,b)
    assert(got == Seq((1L, 2L, r6(d1 / 2)), (2L, 1L, r6(d2))))
  }

  test("packSequences: bin = exclusive-prefix div budget; invariant under input partitioning") {
    // docs of 3, 4, 5, 2 words; budget 6 → exclusive prefixes 0,3,7,12
    // → bins 0,0,1,2
    val df = Seq(
      (1L, "a b c"), (2L, "d e f g"), (3L, "h i j k l"), (4L, "m n"))
      .toDF("doc_id", "text")
    val got = Text.packSequences(df, "doc_id", "text", seqTokens = 6L)
      .orderBy($"doc").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 3L, 0L), (2L, 4L, 7L, 0L), (3L, 5L, 12L, 1L), (4L, 2L, 14L, 2L)))
    // the 2-pass prefix sum must give identical results however the
    // input is partitioned (offsets embed per partition)
    val sprayed = Text.packSequences(df.repartition(7), "doc_id", "text", 6L)
      .orderBy($"doc").as[(Long, Long, Long, Long)].collect().toSeq
    assert(sprayed == got)
    // and no single-partition Window in the physical plan
    val plan = Text.packSequences(df, "doc_id", "text", 6L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(2000))
  }

  test("sampleByQualityStrata matches a driver-side re-derivation of rank, stratum and keep rule") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val strata = 10
    // independent local re-derivation from the scored projection
    val scored = docs.select($"doc_id", Text.qualityScore($"text").as("q"))
      .as[(Long, Double)].collect().sortBy { case (id, q) => (q, id) }
    val n = scored.length
    val expected = scored.zipWithIndex.collect {
      case ((id, q), i)
          if id % strata < math.floor(strata * i.toDouble / n).toInt + 1 =>
        (id, math.floor(strata * i.toDouble / n).toInt, q)
    }.sortBy(_._1).toSeq
    val got = Text.sampleByQualityStrata(docs, "doc_id", "text", strata)
      .orderBy($"doc_id").as[(Long, Int, Double)].collect().toSeq
    assert(got == expected)
    // strata are equal-count over the full corpus: every stratum holds
    // floor(n/strata) or ceil(n/strata) docs
    val sizes = scored.indices.groupBy(i => math.floor(strata * i.toDouble / n).toInt)
      .view.mapValues(_.size).values.toSet
    assert(sizes.subsetOf(Set(n / strata, n / strata + 1)))
  }

  test("qualityStrataApprox agrees with the exact strata within sketch error") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val exact = Text.sampleByQualityStrata(docs, "doc_id", "text", 10)
      .select($"doc_id", $"stratum").as[(Long, Int)].collect().toMap
    val approx = Text.qualityStrataApprox(docs, "doc_id", "text", 10)
      .select($"doc_id", $"stratum").as[(Long, Int)].collect().toMap
    // same keep rule, so compare strata on the intersection of kept ids
    val common = exact.keySet intersect approx.keySet
    assert(common.nonEmpty)
    val close = common.count(id => math.abs(exact(id) - approx(id)) <= 1)
    assert(close.toDouble / common.size >= 0.9,
      s"only $close/${common.size} kept docs within ±1 stratum")
  }

  test("r13 operator plans: no single-partition window in strata; entropy and sketch aggs stay partial") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    // q90 exact path: the global rank must ride the 2-pass pipeline, not
    // a row_number() window collapsed onto one partition
    val strataPlan = Text.sampleByQualityStrata(docs, "doc_id", "text", 10)
      .queryExecution.executedPlan.toString
    assert(!strataPlan.contains("Window"), strataPlan.take(2000))
    // q89: the word-count and per-doc rollup both keep a map-side phase
    val lexPlan = Text.lexicalDiversity(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(lexPlan.contains("partial_"), lexPlan.take(2000))
    // q91: hll_sketch_agg partial-aggregates before the shuffle
    val skPlan = graft.ops.Sketches.approxDistinct(
        docs.select($"source", explode(split($"text", " ")).as("word")),
        Seq("source"), "word")
      .queryExecution.executedPlan.toString
    assert(skPlan.contains("partial_hll_sketch_agg"), skPlan.take(2000))
  }

  test("r13 session-3 plans: vocab joins broadcast (q94/q99); chunk is exchange-free (q95)") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    // q94/q99: the token→vocabulary joins must BROADCAST at corpus
    // vocab sizes (the explode side never shuffles by word)
    val dsir = Text.importanceWeights(docs, "doc_id", "text", $"source" === "src0")
      .queryExecution.executedPlan.toString
    assert(dsir.contains("BroadcastHashJoin"), dsir.take(2000))
    val bg = Text.bigramLogProb(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(bg.contains("BroadcastHashJoin"), bg.take(2000))
    // q95: pure per-row transform + explode — no Exchange anywhere
    val ch = Text.chunk(docs, "doc_id", "text", 12, 8)
      .queryExecution.executedPlan.toString
    assert(!ch.contains("Exchange"), ch.take(2000))
  }

  test("chunk coverage properties over doc lengths 1..40 × three (cw, stride) shapes") {
    // docs d = 1..40 with d words each; per config one Spark job, then
    // per-doc boundary laws checked driver-side
    val docs = (1 to 40).map(d => (d.toLong, (1 to d).map("w" + _).mkString(" ")))
      .toDF("doc_id", "text")
    for ((cw, stride) <- Seq((4, 3), (5, 5), (7, 2), (12, 8))) {
      val byDoc = Text.chunk(docs, "doc_id", "text", cw, stride)
        .as[(Long, Long, Long, Long, String)].collect().toSeq
        .groupBy(_._1)
      for (n <- 1 to 40) {
        val rows = byDoc(n.toLong).sortBy(_._2)
        // full cover: the union of [start, start + n_words) is [0, n)
        val covered = rows.flatMap(r => r._3 until (r._3 + r._4)).toSet
        assert(covered == (0L until n.toLong).toSet, s"n=$n cw=$cw stride=$stride")
        // with at least cw words every chunk is exactly full-width
        if (n >= cw) assert(rows.forall(_._4 == cw), s"n=$n cw=$cw stride=$stride")
        // starts strictly increase; the last chunk ends at the last word
        assert(rows.map(_._3) == rows.map(_._3).sorted.distinct)
        assert(rows.last._3 + rows.last._4 == n.toLong)
        // chunk text really is the slice it claims to be
        val r0 = rows.head
        assert(r0._5 == ((r0._3 + 1) to (r0._3 + r0._4)).map("w" + _).mkString(" "))
      }
    }
  }

  test("samplePerGroup: exactly k per group (or all when smaller), stable under partitioning") {
    val df = (1 to 30).map(i => (i.toLong, s"doc number $i words", s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    val got = Text.samplePerGroup(df, "doc_id", "text", "source", k = 4)
      .orderBy($"grp", $"rk").as[(Long, String, Long)].collect().toSeq
    assert(got.groupBy(_._2).forall(_._2.size == 4))
    assert(got.map(_._3).forall(r => r >= 1 && r <= 4))
    val sprayed = Text.samplePerGroup(df.repartition(11), "doc_id", "text", "source", 4)
      .orderBy($"grp", $"rk").as[(Long, String, Long)].collect().toSeq
    assert(sprayed == got)
    // a group smaller than k yields all its rows
    val tiny = Seq((1L, "a", "s"), (2L, "b", "s")).toDF("doc_id", "text", "source")
    assert(Text.samplePerGroup(tiny, "doc_id", "text", "source", 5).count() == 2)
  }

  test("Profile.profile: one-scan stats with nulls, unpivoted per column") {
    val df = Seq[(java.lang.Long, String)]((1L, "x"), (2L, null), (null, "x"), (3L, "y"))
      .toDF("id", "tag")
    val got = graft.ops.Profile.profile(df, Seq("id", "tag"))
      .orderBy($"col_name").as[(String, Long, Long, Long, String, String)]
      .collect().toSeq
    assert(got == Seq(
      ("id", 3L, 1L, 3L, "1", "3"),
      ("tag", 3L, 1L, 2L, "x", "y")))
  }

  test("Profile.profile: awkward column names (dots, spaces, alias-shaped) profile correctly") {
    // names that would break a stack()/selectExpr string build: dots,
    // spaces, hyphens, and a name shaped like an internal alias
    val df = Seq((1L, "x", "a"), (2L, "y", "b"), (3L, "y", "b"))
      .toDF("user.id", "col name-x", "_graft_p0_n")
    val got = graft.ops.Profile.profile(df, Seq("user.id", "col name-x", "_graft_p0_n"))
      .orderBy($"col_name").as[(String, Long, Long, Long, String, String)]
      .collect().toSeq
    assert(got == Seq(
      ("_graft_p0_n", 3L, 0L, 2L, "a", "b"),
      ("col name-x", 3L, 0L, 2L, "x", "y"),
      ("user.id", 3L, 0L, 3L, "1", "3")))
  }

  test("Profile.profileApprox: single-pass plan (no Expand), estimates within 3·rsd of exact") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val cols = Seq("doc_id", "source", "text")
    val approx = graft.ops.Profile.profileApprox(docs, cols, rsd = 0.02)
    // no multi-distinct Expand: the approx sketch partial-aggregates
    val plan = approx.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), plan.take(2000))
    val exactPlan = graft.ops.Profile.profile(docs, cols)
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("Expand"), exactPlan.take(2000)) // the trade it removes
    val exact = graft.ops.Profile.profile(docs, cols)
      .select($"col_name", $"n_distinct").as[(String, Long)].collect().toMap
    val est = approx.select($"col_name", $"approx_distinct").as[(String, Long)].collect().toMap
    for (c <- cols) {
      val (e, a) = (exact(c).toDouble, est(c).toDouble)
      assert(math.abs(a - e) / e <= 0.06, s"$c: exact $e approx $a")
    }
  }

  test("prepSequences: contiguous bins, conserved tokens, non-final bins near budget") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val bins = graft.llm.Curate.prepSequences(docs, "doc_id", "text").orderBy($"bin")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(bins.map(_._1) == bins.indices.map(_.toLong))
    val kept = docs.filter(Text.qualityScore($"text") >= 0.5)
    val totalTokens = Text.chunk(kept, "doc_id", "text", 12, 8)
      .agg(sum($"n_words")).as[Long].head()
    assert(bins.map(_._3).sum == totalTokens)
    // prefix contiguity: every non-final bin spans at least
    // seqTokens − (chunkWords − 1) tokens (a chunk can spill at most
    // chunkWords − 1 tokens across the boundary)
    assert(bins.dropRight(1).forall(_._3 >= 256 - 11))
  }

  test("fingerprint equals the driver-side polynomial hash") {
    val s = "abc xyz"
    def poly(t: String): Long = t.foldLeft(0L)((h, c) => (h * 31 + c) % 2147483647L)
    val df = Seq(s).toDF("text")
    assert(col0(df.select(Text.fingerprint($"text"))) == Seq(poly(s)))
  }

  test("fingerprint codegen expression is bit-identical to the interpreted Column form") {
    val synthetic = Seq(
      (1L, "a b c"), (2L, "the quick brown fox!"), (3L, ""), (4L, "x"),
      (5L, "punct, digits 123 & unicode: héllo wörld"),
      (6L, (1 to 80).map(i => s"tok$i").mkString(" "))).toDF("doc_id", "text")
    val real = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text").limit(50)
    for (d <- Seq(synthetic, real)) {
      val viaExpr = d.select($"doc_id", Text.fingerprint($"text"))
        .as[(Long, Long)].collect().toSet
      val viaCol = d.select($"doc_id", Text.fingerprintColumnForm($"text"))
        .as[(Long, Long)].collect().toSet
      assert(viaExpr == viaCol)
      val shExpr = d.select($"doc_id", Text.shingleFingerprint($"text", 5))
        .as[(Long, Long)].collect().toSet
      val shCol = d.select($"doc_id",
        array_min(transform(Dedup.shingles($"text", 5),
          s => aggregate(split(s, ""), lit(0L),
            (h, c) => pmod(h * 31L + ascii(c), lit(2147483647L))))))
        .as[(Long, Long)].collect().toSet
      assert(shExpr == shCol)
    }
  }

  test("sampleByTokenBudget keeps the fingerprint-order prefix within budget, per source") {
    val df = Seq(
      (1L, "s1", "a b c"),          // 3 tokens
      (2L, "s1", "d e f g"),        // 4
      (3L, "s1", "h i"),            // 2
      (4L, "s2", "one two three")   // 3
    ).toDF("doc_id", "src0", "text")
    val got = graft.llm.Text.sampleByTokenBudget(df, "doc_id", "text", "src0", 5L)
      .as[(Long, String, Long, Long)].collect().toSet
    // expected: per source, order docs by fingerprint(text) then id,
    // keep while cumulative <= 5 — recompute the same rule driver-side
    def poly(t: String): Long = t.foldLeft(0L)((h, c) => (h * 31 + c) % 2147483647L)
    val rows = Seq((1L, "s1", 3L), (2L, "s1", 4L), (3L, "s1", 2L), (4L, "s2", 3L))
    val texts = Map(1L -> "a b c", 2L -> "d e f g", 3L -> "h i", 4L -> "one two three")
    val want = rows.groupBy(_._2).flatMap { case (_, rs) =>
      var cum = 0L
      // prefix rule, not a knapsack: a doc past the budget still
      // advances the running sum, excluding everything after it
      rs.sortBy(r => (poly(texts(r._1)), r._1)).flatMap { r =>
        cum += r._3
        if (cum <= 5L) Some((r._1, r._2, r._3, cum)) else None
      }
    }.toSet
    assert(got == want && got.nonEmpty)
  }

  test("sampleByMixture applies weight-proportional budgets; unweighted sources drop") {
    val df = Seq(
      (1L, "a", "a b c"),           // 3 tokens
      (2L, "a", "d e f g"),         // 4
      (3L, "b", "h i"),             // 2
      (4L, "b", "one two three"),   // 3
      (5L, "c", "x y z")            // source without a weight -> excluded
    ).toDF("doc_id", "src0", "text")
    // total 8, weights a:3 b:1 -> budgets floor(8*3/4)=6, floor(8*1/4)=2
    val got = graft.llm.Text.sampleByMixture(df, "doc_id", "text", "src0", 8L,
        Map("a" -> 3.0, "b" -> 1.0))
      .as[(Long, String, Long, Long)].collect().toSet
    def poly(t: String): Long = t.foldLeft(0L)((h, c) => (h * 31 + c) % 2147483647L)
    val texts = Map(1L -> "a b c", 2L -> "d e f g", 3L -> "h i", 4L -> "one two three")
    val rows = Seq((1L, "a", 3L), (2L, "a", 4L), (3L, "b", 2L), (4L, "b", 3L))
    val budget = Map("a" -> 6L, "b" -> 2L)
    val want = rows.groupBy(_._2).flatMap { case (src, rs) =>
      var cum = 0L
      rs.sortBy(r => (poly(texts(r._1)), r._1)).flatMap { r =>
        cum += r._3
        if (cum <= budget(src)) Some((r._1, r._2, r._3, cum)) else None
      }
    }.toSet
    assert(got == want && got.nonEmpty)
    assert(!got.exists(_._2 == "c"))
  }

  test("two-phase sampleByTokenBudget is identical to single-phase on a giant skewed source") {
    // one giant source (590 docs, incl. zero-token texts past the
    // boundary) + one tiny source — the skew shape the two-phase form
    // exists for. Deterministic texts of varying token counts.
    val rnd = new scala.util.Random(19)
    val giant = (1L to 590L).map { i =>
      val n = rnd.nextInt(7) // 0-token docs exercise the cum==budget tail
      (i, "big", Seq.fill(n)(s"t${rnd.nextInt(50)}").mkString(" "))
    }
    val tiny = (1000L to 1004L).map(i => (i, "small", s"x$i y$i"))
    val df = (giant ++ tiny).toDF("doc_id", "src0", "text")
    val single = graft.llm.Text
      .sampleByTokenBudget(df, "doc_id", "text", "src0", 700L)
      .as[(Long, String, Long, Long)].collect().toSet
    for (buckets <- Seq(2, 32, 1024)) { // incl. more buckets than docs
      val two = graft.llm.Text
        .sampleByTokenBudget(df, "doc_id", "text", "src0", 700L, buckets = buckets)
        .as[(Long, String, Long, Long)].collect().toSet
      assert(two == single, s"buckets=$buckets")
    }
    assert(single.nonEmpty && single.exists(_._2 == "small"))
  }

  // VERDICT r10 item 5: the two-phase plan's structure, asserted — the
  // tiny offsets table must come back via a BROADCAST join (a shuffled
  // join would re-exchange the full record stream just to attach one
  // offset per bucket), and with the r11 persist removal there must be
  // no InMemoryTableScan left in either phase
  test("two-phase sampler plan broadcasts the offsets join, no persist") {
    val df = (1L to 50L).map(i => (i, "s", s"w$i x$i")).toDF("doc_id", "src0", "text")
    val plan = graft.llm.Text
      .sampleByTokenBudget(df, "doc_id", "text", "src0", 40L, buckets = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      plan.take(3000))
    assert(!plan.contains("InMemoryTableScan"), plan.take(3000))
  }

  test("removeBoilerplate drops shared sentences, keeps order, drops empty docs") {
    val df = Seq(
      (1L, "common intro. unique one. tail bit"),
      (2L, "common intro. unique two. tail bit"),
      (3L, "common intro. unique three. tail bit"),
      (4L, "common intro")).toDF("doc_id", "text")
    val got = graft.llm.Text.removeBoilerplate(df, "doc_id", "text", ". ", maxDocFreq = 2)
      .orderBy("doc").as[(Long, String)].collect().toSeq
    // "common intro" in 4 docs (> 2) and "tail bit" in 3 (> 2) are cut;
    // doc 4 had only boilerplate → dropped entirely
    assert(got == Seq(1L -> "unique one", 2L -> "unique two", 3L -> "unique three"))
  }

  test("shingle kernel matches the Column form on trailing/double separators") {
    val texts = Seq("a b ", " a b", "a  b", "a b c ", "x", "", "a b c d  e")
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "text")
    val colForm = df.select($"id", graft.llm.Dedup.shingles($"text", 3).as("sh"))
      .as[(Int, Seq[String])].collect().toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(colForm(i) == graft.llm.Dedup.shingleSet(t, 3).toSeq,
        s"kernel/Column divergence on '$t'")
    }
  }

  test("exactIncremental: within-batch keepers minus the fingerprint store") {
    val store = Seq("known one", "known two").toDF("text")
      .select(xxhash64($"text").as("fp_a"),
        xxhash64(lit("graft-fp2"), $"text").as("fp_b"))
    val batch = Seq(
      (10L, "fresh a"), (11L, "fresh a"),  // within-batch dup → keeper 10
      (12L, "known one"),                  // already in the store → dropped
      (13L, "fresh b")).toDF("doc_id", "text")
    val got = graft.llm.Dedup.exactIncremental(batch, "text", "doc_id", store)
      .select($"id").as[Long].collect().toSet
    assert(got == Set(10L, 13L))
  }

  test("exactIncremental: null-content docs dedup against the store too") {
    // pins the engine semantics the operator relies on: xxhash64(NULL)
    // is the non-null seed constant (42), NOT null — so null-content
    // docs carry a constant fingerprint pair, dedup within-batch, and
    // match the store through the plain equi-anti-join across batches
    val mkStore = (df: org.apache.spark.sql.DataFrame) => df
      .select(xxhash64($"text").as("fp_a"),
        xxhash64(lit("graft-fp2"), $"text").as("fp_b"))
    // batch 1: two null-content docs → within-batch dedup keeps one
    val b1 = Seq((1L, Option("x")), (2L, None), (3L, None))
      .toDF("doc_id", "text")
    val empty = mkStore(Seq.empty[String].toDF("text"))
    val r1 = graft.llm.Dedup.exactIncremental(b1, "text", "doc_id", empty)
    val r1rows = r1.collect()
    assert(r1rows.map(_.getLong(0)).toSet == Set(1L, 2L))
    // the null keeper's fingerprints are NON-null (the invariant above)
    assert(r1rows.forall(r => !r.isNullAt(1) && !r.isNullAt(2)))
    // append batch-1 keepers to the store; batch 2's null doc must be
    // recognized as a duplicate
    val store2 = empty.unionByName(r1.select($"fp_a", $"fp_b"))
    val b2 = Seq((4L, Option("y")), (5L, None)).toDF("doc_id", "text")
    val r2 = graft.llm.Dedup.exactIncremental(b2, "text", "doc_id", store2)
    assert(r2.select($"id").as[Long].collect().toSet == Set(4L))
  }

  test("sentenceDedup keeps only the first corpus-wide copy of each sentence") {
    val df = Seq(
      (2L, "shared line. own two. common tail"),
      (1L, "shared line. own one. common tail"),
      (3L, "shared line. common tail"),          // nothing of its own → vanishes
      (4L, "own four. shared line")).toDF("doc_id", "text")
    val got = graft.llm.Dedup.sentenceDedup(df, "doc_id", "text")
      .orderBy("doc").as[(Long, String, Long)].collect().toSeq
    // first occurrence = min (doc_id, pos): doc 1 owns "shared line"
    // (pos 0) and "common tail"; docs 2/4 keep only their unique
    // sentences; doc 3 loses everything and drops out
    assert(got == Seq(
      (1L, "shared line. own one. common tail", 3L),
      (2L, "own two", 1L),
      (4L, "own four", 1L)))
    // a sentence repeated WITHIN a doc also keeps only its first copy
    val self = Seq((7L, "a b. a b. c d")).toDF("doc_id", "text")
    val got2 = graft.llm.Dedup.sentenceDedup(self, "doc_id", "text")
      .as[(Long, String, Long)].head()
    assert(got2 == ((7L, "a b. c d", 2L)))
  }

  test("sentenceDedup: a null doc id never deletes other docs' copies (r17 review)") {
    // pre-fix: the null doc won min(struct(doc,pos)) for "shared sent"
    // and the equi-join (null keys never match) deleted EVERY copy —
    // including doc 1's, the only identifiable first occurrence. The
    // spanDedup convention: null-doc rows pass through unexamined,
    // non-null docs dedup among themselves.
    val df = Seq(
      (Option.empty[Long], "shared sent. null own"),
      (Option(1L), "shared sent. one own"),
      (Option(2L), "shared sent. two own")).toDF("doc_id", "text")
    val got = graft.llm.Dedup.sentenceDedup(df, "doc_id", "text")
      .as[(Option[Long], String, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(got(Some(1L)) == "shared sent. one own", got)
    assert(got(Some(2L)) == "two own", got)
    assert(got(None) == "shared sent. null own", got) // passed through
  }

  test("sentenceDedup: distinct null-id docs pass through as distinct rows (r17 ADVICE)") {
    // pre-fix: groupBy(doc) treated every null id as ONE group, merging
    // distinct null-id documents into a single row with their sentences
    // interleaved by array_sort
    val df = Seq(
      (Option.empty[Long], "alpha one. alpha two"),
      (Option.empty[Long], "beta one. beta two. beta three"),
      (Option(1L), "real doc")).toDF("doc_id", "text")
    val got = graft.llm.Dedup.sentenceDedup(df, "doc_id", "text")
      .as[(Option[Long], String, Long)].collect().toSeq
    val nulls = got.filter(_._1.isEmpty).map(r => (r._2, r._3)).toSet
    assert(nulls == Set(("alpha one. alpha two", 2L),
      ("beta one. beta two. beta three", 3L)), got)
    assert(got.filter(_._1.nonEmpty) == Seq((Some(1L), "real doc", 1L)), got)
    // null id AND null text: still one passthrough row, n_kept 0 (the
    // ANSI-off size(null) = -1 guard)
    val gotNullText = graft.llm.Dedup.sentenceDedup(
        Seq((Option.empty[Long], Option.empty[String]),
          (Option(5L), Option("x y"))).toDF("doc_id", "text"),
        "doc_id", "text")
      .as[(Option[Long], Option[String], Long)].collect().toSeq
    assert(gotNullText.toSet ==
      Set((None, None, 0L), (Some(5L), Some("x y"), 1L)), gotNullText)
  }

  test("lshIncrementalIndexed: an index built with MORE bands fails loudly (r17 review)") {
    def mk(n: Int, p: String) = (1 to n).map(i => s"$p$i").mkString(" ")
    val store = graft.llm.Dedup.minhashSignatures(
      Seq((1L, mk(40, "w"))).toDF("doc_id", "text"), "doc_id", "text").persist()
    store.count()
    val idx32 = graft.llm.Dedup.lshBandIndex(store, bands = 32).persist()
    idx32.count()
    val batch = Seq((10L, mk(40, "w"))).toDF("doc_id", "text")
    val e = intercept[Exception] {
      graft.llm.Dedup.lshIncrementalIndexed(batch, "doc_id", "text",
        store, idx32, bands = 16).collect()
    }
    store.unpersist(); idx32.unpersist()
    assert(e.getMessage != null && e.getMessage.contains("band scheme"),
      e.getMessage)
  }

  test("lshManifest: every scheme mismatch fails loudly, incl. the fewer-bands index (r18)") {
    def mk(n: Int, p: String) = (1 to n).map(i => s"$p$i").mkString(" ")
    val D = graft.llm.Dedup
    val store = D.minhashSignatures(
      Seq((1L, mk(40, "w")), (2L, mk(40, "v"))).toDF("doc_id", "text"),
      "doc_id", "text").persist()
    store.count()
    val batch = Seq((10L, mk(40, "w")), (11L, mk(40, "u"))).toDF("doc_id", "text")
    val good = D.lshManifest(spark, shingleK = 3, numHashes = 64, bands = 16)

    // matching manifest: admit set identical to the manifest-less call
    val withM = D.lshIncremental(batch, "doc_id", "text", store,
      manifest = Some(good)).select("id").as[Long].collect().toSet
    val noM = D.lshIncremental(batch, "doc_id", "text", store)
      .select("id").as[Long].collect().toSet
    assert(withM == noM && withM == Set(11L)) // 10 near-dups stored doc 1

    def mustFail(m: org.apache.spark.sql.DataFrame)(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains("manifest scheme"), e.getMessage)
    }
    // each axis individually wrong → loud failure BEFORE any Spark job
    mustFail(good)(D.lshIncremental(batch, "doc_id", "text", store,
      bands = 8, manifest = Some(good)))
    mustFail(good)(D.lshIncremental(batch, "doc_id", "text", store,
      numHashes = 32, bands = 16, manifest = Some(good)))
    mustFail(good)(D.lshIncremental(batch, "doc_id", "text", store,
      shingleK = 5, manifest = Some(good)))
    mustFail(good)(graft.llm.Curate.incrementalCurate(batch, "doc_id", "text",
      Seq((0L, 0L)).toDF("fp_a", "fp_b"), store, bands = 8,
      manifest = Some(good)))

    // THE hole the manifest closes: an index built with FEWER bands is
    // row-locally undetectable (in-range band values, different-r keys)
    // — the (band,key) join would match ~nothing and admit every
    // cross-store duplicate. With the manifest it fails loudly instead.
    val idx8 = D.lshBandIndex(store, bands = 8).persist()
    idx8.count()
    val m8 = D.lshManifest(spark, shingleK = 3, numHashes = 64, bands = 8)
    // silent wrong admit without the manifest (documents the hazard):
    val silent = D.lshIncrementalIndexed(batch, "doc_id", "text", store,
      idx8, bands = 16).select("id").as[Long].collect().toSet
    assert(silent == Set(10L, 11L)) // 10 wrongly admitted — the hazard
    mustFail(m8)(D.lshIncrementalIndexed(batch, "doc_id", "text", store,
      idx8, bands = 16, manifest = Some(m8)))
    // and the correctly-paired call under the stored scheme still works
    val viaIdx8 = D.lshIncrementalIndexed(batch, "doc_id", "text", store,
      idx8, bands = 8, manifest = Some(m8)).select("id").as[Long].collect().toSet
    val viaSig8 = D.lshIncremental(batch, "doc_id", "text", store,
      bands = 8, manifest = Some(m8)).select("id").as[Long].collect().toSet
    assert(viaIdx8 == viaSig8)
    // lshBandIndex itself validates the signature/band axes (shingleK
    // is not an index-side concern)
    mustFail(m8)(D.lshBandIndex(store, bands = 16, manifest = Some(m8)))
    // a manifest must be exactly one row
    val e2 = intercept[IllegalArgumentException](
      D.lshIncremental(batch, "doc_id", "text", store,
        manifest = Some(good.unionAll(good))))
    assert(e2.getMessage.contains("exactly one row"), e2.getMessage)
    store.unpersist(); idx8.unpersist()
  }

  test("lshIncremental chain-pessimistic drop rule is batch-split-dependent (documented)") {
    // a = w1..w40, b = w11..w50, c = w21..w60: sliding 40-word windows
    // over a 60-word universe. Shingle (k=3) Jaccards: J(a,b) = J(b,c)
    // = 28/48 ≈ 0.58, J(a,c) = 18/58 ≈ 0.31 — a chain b~a, c~b, c!~a
    // at threshold 0.45. ONE batch drops the whole chain tail {b, c};
    // split {a,b} then {c}, round 2's store holds only a (dropped docs
    // never append), so c is ADMITTED. This is the documented inherent
    // order-dependence of the pessimistic rule, not a defect — the
    // q128 loop invariants hold under both splits.
    val D = graft.llm.Dedup
    def doc(from: Int, until: Int) = (from until until).map(i => s"w$i").mkString(" ")
    val a = (1L, doc(1, 41)); val b = (2L, doc(11, 51)); val c = (3L, doc(21, 61))
    val empty = Seq.empty[(Long, Array[Long])].toDF("id", "sig")
    def ingest(docs: Seq[(Long, String)], store: org.apache.spark.sql.DataFrame) =
      D.lshIncremental(docs.toDF("doc_id", "text"), "doc_id", "text", store,
        numHashes = 64, bands = 32, threshold = 0.45)

    // one batch: only a survives (b dropped by a, c dropped by b —
    // pessimistic even though c !~ a)
    val oneBatch = ingest(Seq(a, b, c), empty).select("id").as[Long].collect().toSet
    assert(oneBatch == Set(1L), s"one-batch admits: $oneBatch")

    // two halves: {a, b} admits a; then {c} vs store {a} admits c
    val round1 = ingest(Seq(a, b), empty)
      .select("id", "sig").persist()
    assert(round1.select("id").as[Long].collect().toSet == Set(1L))
    val round2 = ingest(Seq(c), round1).select("id").as[Long].collect().toSet
    round1.unpersist()
    assert(round2 == Set(3L), s"split admits c: $round2")
    // the invariant that DOES hold under both splits: admits are
    // pairwise below threshold vs the store they were admitted against
    // (a vs c): directly check est-Jaccard via signature agreement
    val sigs = D.minhashSignatures(Seq(a, c).toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("id").as[(Long, Array[Long])].collect()
    val agree = sigs(0)._2.zip(sigs(1)._2).count { case (x, y) => x == y }
    assert(agree / 64.0 < 0.45, s"est J(a,c) = ${agree / 64.0}")
  }

  test("splitInvariant mode: admit set identical across every prefix split (r19)") {
    // the same chain fixture that PROVES the default rule's
    // order-dependence above: b~a, c~b, c!~a at threshold 0.45. In
    // split-invariant mode every seen rep's signature is appended
    // (admitted or not), so c meets b's signature in the store no
    // matter where the boundary fell — the q128-scenario flip
    // ({a,b,c} drops c, {a,b}+{c} admits it) cannot happen.
    val D = graft.llm.Dedup
    def doc(from: Int, until: Int) = (from until until).map(i => s"w$i").mkString(" ")
    val a = (1L, doc(1, 41)); val b = (2L, doc(11, 51)); val c = (3L, doc(21, 61))
    val empty = Seq.empty[(Long, Array[Long])].toDF("id", "sig")
    def run(batches: Seq[Seq[(Long, String)]]): (Set[Long], Long) = {
      var store = empty.localCheckpoint()
      var admits = Set.empty[Long]
      batches.foreach { docs =>
        val res = D.lshIncremental(docs.toDF("doc_id", "text"), "doc_id", "text",
            store, numHashes = 64, bands = 32, threshold = 0.45,
            splitInvariant = true)
          .persist()
        assert(res.columns.toSeq == Seq("id", "sig", "admitted"))
        admits ++= res.filter($"admitted").select("id").as[Long].collect()
        // the mode's append contract: ALL seen reps enter the store
        store = store.unionByName(res.select("id", "sig")).localCheckpoint()
        res.unpersist()
      }
      (admits, store.count())
    }
    // indexed path too (shared body, but pin it): same invariant run
    // over a per-round rebuilt band index must agree
    def runIdx(batches: Seq[Seq[(Long, String)]]): (Set[Long], Long) = {
      var store = empty.localCheckpoint()
      var admits = Set.empty[Long]
      batches.foreach { docs =>
        val idx = D.lshBandIndex(store, numHashes = 64, bands = 32)
        val res = D.lshIncrementalIndexed(docs.toDF("doc_id", "text"),
            "doc_id", "text", store, idx, numHashes = 64, bands = 32,
            threshold = 0.45, splitInvariant = true)
          .persist()
        admits ++= res.filter($"admitted").select("id").as[Long].collect()
        store = store.unionByName(res.select("id", "sig")).localCheckpoint()
        res.unpersist()
      }
      (admits, store.count())
    }
    val splits = Seq(
      Seq(Seq(a, b, c)),
      Seq(Seq(a, b), Seq(c)),
      Seq(Seq(a), Seq(b, c)),
      Seq(Seq(a), Seq(b), Seq(c)))
    val results = splits.map(run)
    assert(splits.map(runIdx) == results, "indexed path must agree")
    // every split admits exactly {a}; the one-batch result is the
    // corpus semantics and every other split equals it
    assert(results.forall(_._1 == Set(1L)), s"admit sets: ${results.map(_._1)}")
    // all three seen reps reach the store under every split
    assert(results.forall(_._2 == 3L), s"store sizes: ${results.map(_._2)}")
    // contrast pinned: the DEFAULT rule still flips on the {a,b}+{c}
    // split (the documented order-dependence this mode removes)
    val r1 = D.lshIncremental(Seq(a, b).toDF("doc_id", "text"), "doc_id", "text",
      empty, numHashes = 64, bands = 32, threshold = 0.45).persist()
    val r2 = D.lshIncremental(Seq(c).toDF("doc_id", "text"), "doc_id", "text",
      r1, numHashes = 64, bands = 32, threshold = 0.45)
      .select("id").as[Long].collect().toSet
    r1.unpersist()
    assert(r2 == Set(3L))
  }

  test("splitInvariant incrementalCurate: prefix-split admit parity on real documents (r19)") {
    // corpus-level: sf0.001 documents + exact and near duplicates,
    // ingested as 1 / 2 / 3 consecutive id-range batches through
    // incrementalCurate(splitInvariant = true) — admit sets must be
    // identical. Store discipline per the contract: sig+index rows for
    // ALL returned reps, fp rows for admitted only.
    val C = graft.llm.Curate
    val D = graft.llm.Dedup
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text").filter($"doc_id" < 300)
    val maxId = docs.agg(org.apache.spark.sql.functions.max($"doc_id")).head().getLong(0)
    // exact copies of every 7th doc + the doc itself = chain fodder
    val corpus = docs.unionByName(
        docs.filter($"doc_id" % 7 === 0)
          .select(($"doc_id" + maxId + 1).as("doc_id"), $"text"))
      .persist()
    corpus.count()
    val hi = corpus.agg(org.apache.spark.sql.functions.max($"doc_id")).head().getLong(0)
    def run(bounds: Seq[Long]): Set[Long] = {
      val empty = corpus.limit(0)
      var fpStore = empty.select(
        org.apache.spark.sql.functions.xxhash64($"text").as("fp_a"),
        org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.lit("graft-fp2"), $"text").as("fp_b"))
        .localCheckpoint()
      var sigStore = D.minhashSignatures(empty, "doc_id", "text").localCheckpoint()
      var admits = Set.empty[Long]
      (Seq(Long.MinValue) ++ bounds).zip(bounds ++ Seq(hi + 1)).foreach {
        case (lo, up) =>
          val batch = corpus.filter($"doc_id" >= lo && $"doc_id" < up)
          val res = C.incrementalCurate(batch, "doc_id", "text",
              fpStore, sigStore, splitInvariant = true)
            .persist()
          admits ++= res.filter($"admitted").select("id").as[Long].collect()
          fpStore = fpStore.unionByName(
            res.filter($"admitted").select($"fp_a", $"fp_b")).localCheckpoint()
          sigStore = sigStore.unionByName(res.select($"id", $"sig")).localCheckpoint()
          res.unpersist()
      }
      admits
    }
    val one = run(Seq.empty)
    val two = run(Seq(150L))
    val three = run(Seq(100L, 200L))
    corpus.unpersist()
    assert(one == two, s"1-batch vs 2-batch: ${(one -- two) ++ (two -- one)}")
    assert(one == three, s"1-batch vs 3-batch: ${(one -- three) ++ (three -- one)}")
    assert(one.nonEmpty && one.forall(_ <= maxId),
      "copies must never be admitted; originals admit")
  }

  test("gramHashes: positional, length n-k+1, short docs empty, equal windows equal hashes") {
    val h = graft.llm.Dedup.gramHashes("a b c a b c d", 3)
    assert(h.length == 5)
    assert(h(0) == h(3)) // "a b c" at 0 and 3
    assert(h(1) != h(2))
    assert(graft.llm.Dedup.gramHashes("a b", 3).isEmpty)
    // windows are positional, not a distinct set: duplicates preserved
    assert(graft.llm.Dedup.gramHashes("x y x y x y", 2).length == 5)
    // Column form ≡ kernel (the registered expression delegates)
    val viaCol = Seq("a b c a b c d").toDF("text")
      .select(org.apache.spark.sql.functions.call_function(
        "graft_gram_hashes", $"text", lit(3)).as("g"))
      .as[Seq[Long]].head()
    assert(viaCol == h.toSeq)
  }

  test("spanDedup excises later occurrences of duplicated k-token spans, first survives") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      // doc 2 embeds doc 1's first 5 tokens verbatim → they're excised
      (2L, "intro words the quick brown fox jumps final unique tail"),
      (3L, "completely different content with no repeats at all")
    ).toDF("doc_id", "text")
    val got = graft.llm.Dedup.spanDedup(df, "doc_id", "text", k = 5)
      .orderBy($"doc").as[(Long, String, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight", 10L),
      (2L, "intro words final unique tail", 5L),
      (3L, "completely different content with no repeats at all", 8L)))
  }

  test("spanDedup: within-doc repeats, full-doc excision, short docs") {
    // within-doc: second copy of the 3-token span removed
    val self = Seq((5L, "a b c x y a b c")).toDF("doc_id", "text")
    val got = graft.llm.Dedup.spanDedup(self, "doc_id", "text", k = 3)
      .as[(Long, String, Long)].head()
    assert(got == ((5L, "a b c x y", 5L)))
    // a doc that is entirely a later copy vanishes
    val pair = Seq((1L, "p q r s t"), (2L, "p q r s t")).toDF("doc_id", "text")
    val got2 = graft.llm.Dedup.spanDedup(pair, "doc_id", "text", k = 3)
      .orderBy($"doc").as[(Long, String, Long)].collect().toSeq
    assert(got2 == Seq((1L, "p q r s t", 5L)))
    // short docs (< k tokens) carry no windows and pass through intact
    val short = Seq((9L, "tiny doc"), (10L, "tiny doc")).toDF("doc_id", "text")
    val got3 = graft.llm.Dedup.spanDedup(short, "doc_id", "text", k = 3)
      .orderBy($"doc").as[(Long, String, Long)].collect().toSeq
    assert(got3 == Seq((9L, "tiny doc", 2L), (10L, "tiny doc", 2L)))
  }

  test("spanDedup keepFirst=false: the strict Lee et al. form removes every copy") {
    val df = Seq(
      (1L, "a b c tail one"),
      (2L, "head two a b c")).toDF("doc_id", "text")
    val got = graft.llm.Dedup.spanDedup(df, "doc_id", "text", k = 3, keepFirst = false)
      .orderBy($"doc").as[(Long, String, Long)].collect().toSeq
    // the duplicated 3-token span vanishes from BOTH docs
    assert(got == Seq((1L, "tail one", 2L), (2L, "head two", 2L)))
    // and the default form keeps the first copy
    val kept = graft.llm.Dedup.spanDedup(df, "doc_id", "text", k = 3)
      .orderBy($"doc").as[(Long, String, Long)].collect().toSeq
    assert(kept == Seq((1L, "a b c tail one", 5L), (2L, "head two", 2L)))
  }

  test("spanDedup: a null doc id as first occurrence still excises other copies (ADVICE r15)") {
    // null doc sorts FIRST in min(struct); the old =!= comparison
    // returned NULL against it, silently keeping doc 2's copy
    val df = Seq(
      (None: Option[Long], "a b c tail one"),
      (Some(2L), "head two a b c")).toDF("doc_id", "text")
    val got = graft.llm.Dedup.spanDedup(df, "doc_id", "text", k = 3)
      .orderBy($"doc").as[(Option[Long], String, Long)].collect().toSeq
    // doc 2's non-first copy is excised; the null-doc row passes
    // through unexcised (equi-join drops null keys — exactly the q115
    // oracle's NOT EXISTS null semantics)
    assert(got == Seq(
      (None, "a b c tail one", 5L),
      (Some(2L), "head two", 2L)))
  }

  test("spanDedup property oracle: removed spans occur >=2x, reassembly byte-exact") {
    val k = 4
    val rnd = new scala.util.Random(115)
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val planted = Array.fill(6)(vocab(rnd.nextInt(vocab.length))).toSeq
    val docs = (0 until 40).map { i =>
      val base = Seq.fill(6 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.length)))
      // a third of the docs carry the planted duplicate span
      val toks = if (i % 3 == 0) {
        val at = rnd.nextInt(base.length)
        base.take(at) ++ planted ++ base.drop(at)
      } else base
      (i.toLong, toks.mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val got = graft.llm.Dedup.spanDedup(df, "doc_id", "text", k)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // Scala re-derivation of the contract
    val tokens = docs.map { case (d, t) => d -> t.split(" ", -1).toSeq }.toMap
    val gramCount = scala.collection.mutable.Map.empty[Seq[String], Int]
    for ((_, t) <- tokens; i <- 0 to t.length - k)
      gramCount.updateWith(t.slice(i, i + k))(c => Some(c.getOrElse(0) + 1))
    val firstOcc = scala.collection.mutable.Map.empty[Seq[String], (Long, Int)]
    for ((d, t) <- tokens.toSeq.sortBy(_._1); i <- 0 to t.length - k) {
      val g = t.slice(i, i + k)
      if (!firstOcc.contains(g) ||
          Ordering[(Long, Int)].lt((d, i), firstOcc(g))) firstOcc(g) = (d, i)
    }
    for ((d, t) <- tokens) {
      val badStarts = (0 to t.length - k).filter { i =>
        val g = t.slice(i, i + k)
        gramCount(g) >= 2 && firstOcc(g) != ((d, i))
      }
      val removed = badStarts.flatMap(s => s until s + k).toSet
      val keptExpected = t.indices.filterNot(removed).map(t)
      if (keptExpected.nonEmpty) {
        val (clean, nKept) = got(d)
        // byte-exact reassembly of non-removed tokens, in order
        assert(clean == keptExpected.mkString(" "), s"doc $d reassembly")
        assert(nKept == keptExpected.length.toLong, s"doc $d n_kept")
        // every removed token is covered by a window occurring >=2x
        removed.foreach { p =>
          assert(badStarts.exists(s => s <= p && p < s + k))
          assert(badStarts.filter(s => s <= p && p < s + k)
            .forall(s => gramCount(t.slice(s, s + k)) >= 2), s"doc $d pos $p")
        }
      } else assert(!got.contains(d), s"doc $d should vanish")
    }
    // the planted span really was duplicated (the test isn't vacuous)
    assert(gramCount.exists { case (g, c) => c >= 2 && g == planted.take(k) })
  }

  test("lineSignals: counts, mean words, short and duplicate line fractions") {
    val df = Seq(
      (1L, "one two three. x. one two three. a b"), // 4 lines, dup "one two three"
      (2L, "solo")).toDF("doc_id", "text")
    val got = graft.llm.Text.lineSignals(df, "doc_id", "text")
      .orderBy($"doc_id")
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    // doc 1: word counts [3,1,3,2] → mean 2.25; short(<3) = 2/4; dup = 1/4
    assert(got(0) == ((1L, 4L, 2.25, 0.5, 0.25)))
    // doc 2: one 1-word line → all-short, no dups
    assert(got(1) == ((2L, 1L, 1.0, 1.0, 0.0)))
  }

  test("assignSplit: deterministic, repartition-stable, complete, custom weights") {
    val df = (1L to 2000L).toDF("id")
    val a = graft.llm.Text.assignSplit(df, "id")
      .select($"id", $"split").as[(Long, String)].collect().toMap
    val b = graft.llm.Text.assignSplit(df.repartition(17), "id")
      .select($"id", $"split").as[(Long, String)].collect().toMap
    assert(a == b) // partitioning cannot move a document's split
    assert(a.values.toSet.subsetOf(Set("train", "val", "test")))
    val sizes = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(sizes("train") - 1800) <= 6 * math.sqrt(2000 * 0.9 * 0.1))
    // adding rows never moves existing assignments
    val grown = graft.llm.Text.assignSplit((1L to 3000L).toDF("id"), "id")
      .select($"id", $"split").as[(Long, String)].collect().toMap
    assert(a.forall { case (k, v) => grown(k) == v })
    // custom two-way split + a different salt re-splits independently
    val two = graft.llm.Text.assignSplit(df, "id", Seq("a" -> 0.5, "b" -> 0.5))
      .select($"split").as[String].collect()
    assert(two.toSet == Set("a", "b"))
    val resalted = graft.llm.Text.assignSplit(df, "id", salt = "other")
      .select($"id", $"split").as[(Long, String)].collect().toMap
    assert(resalted != a)
  }

  test("vocabulary ranks by count then word, with exact cumulative coverage") {
    val df = Seq("b b b a a c", "a d", "").toDF("text")
    val got = graft.llm.Text.vocabulary(df, "text", size = 3)
      .as[(Long, String, Long, Double)].collect().toSeq
    // 8 tokens total: a=3, b=3, c=1, d=1 — ties break lexicographically
    assert(got == Seq(
      (1L, "a", 3L, 0.375),
      (2L, "b", 3L, 0.75),
      (3L, "c", 1L, 0.875)))
    // an all-blank corpus yields the EMPTY vocabulary (no NPE/NaN)
    val empty = graft.llm.Text.vocabulary(Seq("", " ", "  ").toDF("text"), "text", 5)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("rank", "word", "cnt", "cum_coverage"))
  }

  test("scrubPii replaces emails, phones and IPs with placeholders") {
    val df = Seq(
      "mail me at john.doe+x@sub.example.org today",
      "call +1 555-123-4567 or visit 192.168.1.200 now",
      "nothing sensitive here").toDF("text")
    val got = col0(df.select(graft.llm.Text.scrubPii($"text")))
    assert(got == Seq(
      "mail me at <EMAIL> today",
      "call <PHONE> or visit <IP> now",
      "nothing sensitive here"))
  }

  test("curate composes boilerplate removal, scrubbing, filtering and dedup") {
    val good = (1 to 120).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, good + ". all rights reserved", "a"),
      (2L, good + ". all rights reserved", "a"),      // exact dup of 1 after cleaning
      (3L, "spam spam spam spam. all rights reserved", "a"), // low quality
      (4L, good + " mail x@y.de" + ". all rights reserved", "b"),
      (5L, "keep this long unique text " + good, "b"),
      (6L, "another unique doc " + good + ". all rights reserved", "b"),
      (7L, "yet another one " + good + ". all rights reserved", "b")
    ).toDF("doc_id", "text", "source")
    val got = graft.llm.Curate.curate(df, "doc_id", "text", "source",
        minQuality = 0.5, boilerMaxDf = 3)
      .orderBy("source")
      .select("source", "n_docs").as[(String, Long)].collect().toSeq
    // boilerplate "all rights reserved" (in 6 docs > 3) removed; doc 2
    // dedups against 1; doc 3 fails quality; email in 4 scrubbed
    assert(got == Seq("a" -> 1L, "b" -> 4L))
    val clean4 = graft.llm.Curate.curate(df, "doc_id", "text", "source")
    assert(clean4.count() == 2)
  }

  test("incrementalCurate: gate, exact-store drop, near-store drop, append rows complete (r17)") {
    val good = (1 to 60).map(i => s"w$i").mkString(" ")
    val other = (1 to 60).map(i => s"v$i").mkString(" ")
    val nearGood = ((1 to 59).map(i => s"w$i") :+ "CHANGED").mkString(" ")
    val novel = (1 to 60).map(i => s"z$i").mkString(" ")
    val storeDocs = Seq((2L, good)).toDF("doc_id", "text")
    val fpStore = storeDocs.select(
      xxhash64($"text").as("fp_a"),
      xxhash64(lit("graft-fp2"), $"text").as("fp_b"))
    val sigStore = graft.llm.Dedup.minhashSignatures(storeDocs, "doc_id", "text")
    val batch = Seq(
      (11L, good),                      // exact copy of store -> drop (fp anti-join)
      (13L, nearGood),                  // near-dup of store -> drop (LSH)
      (15L, "spam spam spam spam"),     // fails the quality gate
      (17L, other), (19L, other),       // within-batch exact dup -> keep 17 only
      (21L, novel)                      // genuinely new -> keep
    ).toDF("doc_id", "text")
    try {
      val got = graft.llm.Curate.incrementalCurate(
          batch, "doc_id", "text", fpStore, sigStore, threshold = 0.5)
        .orderBy($"id")
      val rows = got.collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(17L, 21L), rows.mkString(","))
      // append rows carry both stores' columns, non-null, 64-component sigs
      assert(rows.forall(r => !r.isNullAt(1) && !r.isNullAt(2) &&
        r.getSeq[Long](3).length == 64))
    } finally graft.dsl.Rel.releaseTracked()
  }

  test("incrementalCurate with a band index admits the same set as without (r17)") {
    val good = (1 to 60).map(i => s"w$i").mkString(" ")
    val other = (1 to 60).map(i => s"v$i").mkString(" ")
    val nearGood = ((1 to 59).map(i => s"w$i") :+ "CHANGED").mkString(" ")
    val novel = (1 to 60).map(i => s"z$i").mkString(" ")
    val storeDocs = Seq((2L, good)).toDF("doc_id", "text")
    val fpStore = storeDocs.select(
      xxhash64($"text").as("fp_a"),
      xxhash64(lit("graft-fp2"), $"text").as("fp_b"))
    val sigStore = graft.llm.Dedup.minhashSignatures(storeDocs, "doc_id", "text")
      .persist()
    sigStore.count()
    val idx = graft.llm.Dedup.lshBandIndex(sigStore).persist()
    idx.count()
    val batch = Seq((11L, good), (13L, nearGood), (17L, other), (19L, other),
      (21L, novel)).toDF("doc_id", "text")
    try {
      val plain = graft.llm.Curate.incrementalCurate(
          batch, "doc_id", "text", fpStore, sigStore, threshold = 0.5)
        .select($"id").as[Long].collect().toSet
      val indexed = graft.llm.Curate.incrementalCurate(
          batch, "doc_id", "text", fpStore, sigStore, threshold = 0.5,
          bandIndex = Some(idx))
        .select($"id").as[Long].collect().toSet
      assert(indexed == plain && plain == Set(17L, 21L),
        s"indexed $indexed vs plain $plain")
    } finally {
      graft.dsl.Rel.releaseTracked()
      sigStore.unpersist(); idx.unpersist()
    }
  }

  test("unigramLogProb scores common-word docs above rare-word docs") {
    val df = Seq(
      (1L, "the the the the"),   // all high-frequency tokens
      (2L, "the the zzz qqq")    // half rare singletons
    ).toDF("doc_id", "text")
    val got = graft.llm.Text.unigramLogProb(df, "doc_id", "text")
      .select("doc", "mean_logprob").as[(Long, Double)].collect().toMap
    assert(got(1L) > got(2L))
    // doc1: every token p = 6/8 → mean ln(0.75)
    assert(math.abs(got(1L) - math.floor(math.log(6.0 / 8) * 1e6 + 0.5) / 1e6) < 1e-9)
  }

  test("tfidf: rarer terms score higher") {
    val df = Seq((1L, "apple banana"), (2L, "apple cherry")).toDF("doc_id", "text")
    val scores = Text.tfidf(df, "doc_id", "text")
      .select("term", "tfidf").as[(String, Double)].collect().toMap
    assert(scores("apple") == 0.0 && scores("banana") > 0.0)
  }
}

class MultimodalSpec extends SparkSuite {
  import spark.implicits._

  private lazy val media = Multimodal.pack(
    Seq((1L, "hello world"), (2L, "x" * 600)).toDF("doc_id", "text"), "doc_id", "text")

  test("pack produces binary payload with typed metadata") {
    val r = media.orderBy("media_id").collect()(0)
    assert(new String(r.getAs[Array[Byte]]("payload"), "UTF-8") == "hello world")
    assert(r.getStruct(2).getAs[String]("kind") == "image")
    assert(r.getStruct(2).getAs[Long]("n_bytes") == 11L)
  }

  test("packWav writes a real PCM RIFF that extractAudioFeatures parses back") {
    // unicode text: parameters derive from BYTE length (é = 2 bytes)
    val docs = Seq((1L, "hello world"), (2L, "é" * 7), (3L, ""), (4L, null))
      .toDF("doc_id", "text")
    val feats = Multimodal.extractAudioFeatures(Multimodal.packWav(docs, "doc_id", "text"))
      .orderBy("media_id")
      .as[(Long, Long, Int, Int, Int, Long)].collect().toSeq
    def expected(bl: Int): (Long, Int, Int, Int, Long) = {
      val sr = 8000 + (bl % 4) * 4000
      val ch = bl % 2 + 1
      val db = (bl % 50 + 10) * ch * 2
      (44L + db, sr, ch, 16, db * 1000L / (sr.toLong * ch * 2))
    }
    assert(feats(0) match { case (1L, n, sr, ch, b, d) => (n, sr, ch, b, d) ==
      { val e = expected(11); (e._1, e._2, e._3, 16, e._5) } })
    assert(feats(1) match { case (2L, n, sr, ch, b, d) => (n, sr, ch, b, d) ==
      { val e = expected(14); (e._1, e._2, e._3, 16, e._5) } }) // 7 é = 14 bytes
    // empty and null text pack as a single space (bl = 1)
    for (i <- Seq(2, 3)) assert(feats(i) match { case (_, n, sr, ch, b, d) =>
      (n, sr, ch, b, d) == { val e = expected(1); (e._1, e._2, e._3, 16, e._5) } })
    // a non-WAV payload reports zeros (the registry fallback), and the
    // image decoder leaves WAV alone symmetrically
    val notWav = Multimodal.extractAudioFeatures(
      Multimodal.pack(docs.limit(1), "doc_id", "text"))
      .as[(Long, Long, Int, Int, Int, Long)].head()
    assert(notWav._3 == 0 && notWav._6 == 0L)
    val wavThroughImage = Multimodal.extractFeatures(
      Multimodal.packWav(docs.limit(1), "doc_id", "text"))
      .select($"width").as[Int].head()
    assert(wavThroughImage == 0)
  }

  test("extractFeatures is deterministic and batch-driven") {
    val f1 = Multimodal.extractFeatures(media, batchSize = 1).orderBy("media_id").collect()
    val f2 = Multimodal.extractFeatures(media, batchSize = 64).orderBy("media_id").collect()
    assert(f1.toSeq == f2.toSeq) // batch size must not change results
    assert(f1(0).getAs[Long]("n_bytes") == 11L)
  }

  test("sampleFrames keeps every Nth fixed-size frame") {
    val frames = Multimodal.sampleFrames(media, frameBytes = 100, everyN = 2)
      .filter($"media_id" === 2L)
      .select("frame_idx").as[Int].collect().toSeq.sorted
    assert(frames == Seq(0, 2, 4)) // 600 bytes → frames 0..5, every 2nd
  }

  test("parsePnmHeader reads dims/maxval, tolerates comments, rejects malformed") {
    def bytes(s: String) = s.getBytes("UTF-8")
    assert(Multimodal.parsePnmHeader(bytes("P6\n2 3\n255\nxxxxxx")) ==
      Some((3, 2, 3, 255, 11)))
    // comments between tokens, CRLF-ish whitespace mixing
    assert(Multimodal.parsePnmHeader(bytes("P6\n# a comment\n4 1 # w h\n255\n" + "p" * 12))
      .exists { case (ch, w, h, mx, _) => ch == 3 && w == 4 && h == 1 && mx == 255 })
    // P5 = PGM, single gray channel
    assert(Multimodal.parsePnmHeader(bytes("P5\n2 2\n255\n" + "g" * 4)) ==
      Some((1, 2, 2, 255, 11)))
    assert(Multimodal.parsePnmHeader(bytes("P4\n2 2\n")).isEmpty)      // PBM: not handled
    assert(Multimodal.parsePnmHeader(bytes("P6\n0 2\n255\n")).isEmpty) // zero dim
    assert(Multimodal.parsePnmHeader(bytes("P6\n2 2\n")).isEmpty)      // truncated
    assert(Multimodal.parsePnmHeader("plain text".getBytes("UTF-8")).isEmpty)
  }

  test("extractFeatures really decodes PPM: header dims, pixel-only histogram") {
    // 2x1 image, pixels = 6 'A' bytes (0x41 → bin 4)
    val ppm = ("P6\n2 1\n255\n" + "A" * 6).getBytes("UTF-8")
    val df = Seq((7L, ppm)).toDF("media_id", "payload")
    val r = Multimodal.extractFeatures(df).collect()(0)
    assert(r.getAs[Int]("width") == 2 && r.getAs[Int]("height") == 1)
    val hist = r.getSeq[Long](3)
    assert(hist(4) == 6L && hist.sum == 6L) // header bytes NOT in histogram
    assert(r.getAs[Long]("n_bytes") == ppm.length.toLong)
    // non-PPM payload: byte-level stats, unknown dims
    val g = Multimodal.extractFeatures(
      Seq((8L, "hello".getBytes("UTF-8"))).toDF("media_id", "payload")).collect()(0)
    assert(g.getAs[Int]("width") == 0 && g.getAs[Int]("height") == 0)
    assert(g.getSeq[Long](3).sum == 5L)
  }

  test("hostile PNM header near Int.MaxValue dims cannot zero the histogram (r17 ADVICE)") {
    // 3 · 2³¹ · 2³¹ · 2 exceeds Long.MaxValue: the un-saturated product
    // went negative and histogramOf covered nothing while width/height
    // still reported the parsed dims — the exact bug the r16 Long
    // widening claimed to have fixed
    val header = s"P6\n${Int.MaxValue} ${Int.MaxValue}\n300\n" // mx>255 → 2B/sample
    val payload = (header + "A" * 32).getBytes("UTF-8")
    val r = Multimodal.extractFeatures(
      Seq((9L, payload)).toDF("media_id", "payload")).collect()(0)
    assert(r.getAs[Int]("width") == Int.MaxValue)
    val hist = r.getSeq[Long](3)
    assert(hist.sum == 32L, s"histogram must cover the 32 payload bytes, got $hist")
    assert(hist(4) == 32L) // 'A' = 0x41 → bin 4
  }

  test("packPpm emits well-formed P6 whose header matches the length-derived dims") {
    val d = Seq((1L, "hello world"), (2L, ""), (3L, "x" * 640))
      .toDF("doc_id", "text")
    val rows = Multimodal.extractFeatures(Multimodal.packPpm(d, "doc_id", "text"))
      .orderBy("media_id").collect()
    def dims(len: Int) = (len % 16 + 1, len % 8 + 1)
    for ((r, len) <- rows.zip(Seq(11, 1, 640))) { // empty packs as " " (len 1)
      val (w, h) = dims(len)
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == h)
      assert(r.getSeq[Long](3).sum == 3L * w * h) // histogram = exactly the pixel plane
    }
  }

  test("packPgm emits well-formed P5; decoder clips histogram to the single channel") {
    val d = Seq((1L, "hello world"), (2L, "")).toDF("doc_id", "text")
    val rows = Multimodal.extractFeatures(Multimodal.packPgm(d, "doc_id", "text"))
      .orderBy("media_id").collect()
    for ((r, len) <- rows.zip(Seq(11, 1))) {
      val (w, h) = (len % 16 + 1, len % 8 + 1)
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == h)
      assert(r.getSeq[Long](3).sum == w.toLong * h) // 1 channel, not 3
    }
    // hand-built P5: 3x2 gray, 6 'A' samples (0x41 -> bin 4), trailing
    // junk beyond the declared plane must NOT enter the histogram
    val pgm = ("P5\n3 2\n255\n" + "A" * 6 + "zz").getBytes("UTF-8")
    val g = Multimodal.extractFeatures(
      Seq((9L, pgm)).toDF("media_id", "payload")).collect()(0)
    assert(g.getAs[Int]("width") == 3 && g.getAs[Int]("height") == 2)
    assert(g.getSeq[Long](3)(4) == 6L && g.getSeq[Long](3).sum == 6L)
  }

  // ADVICE r10: dims were derived from CHARACTER counts but the payload
  // encodes UTF-8 — on non-ASCII text the header-declared 3wh no longer
  // matched the pixel byte count. Now byte-derived: the contract holds
  // for arbitrary text.
  test("packPpm stays byte-consistent on non-ASCII text") {
    val txt = "héllo wörld éü世界" // 2- and 3-byte UTF-8 chars
    val nBytes = txt.getBytes("UTF-8").length
    assert(nBytes != txt.length) // the case that used to break
    val d = Seq((1L, txt)).toDF("doc_id", "text")
    val packed = Multimodal.packPpm(d, "doc_id", "text").collect()(0)
    val payload = packed.getAs[Array[Byte]]("payload")
    val (w, h) = (nBytes % 16 + 1, nBytes % 8 + 1)
    val parsed = Multimodal.parsePnmHeader(payload)
    assert(parsed.isDefined)
    val (_, pw, ph, _, pixelStart) = parsed.get
    assert((pw, ph) == (w, h))
    // header-declared pixel plane exactly fills the payload
    assert(payload.length - pixelStart == 3 * w * h)
    val feat = Multimodal.extractFeatures(
      Multimodal.packPpm(d, "doc_id", "text")).collect()(0)
    assert(feat.getAs[Int]("width") == w && feat.getAs[Int]("height") == h)
    assert(feat.getSeq[Long](3).sum == 3L * w * h)
  }
}

class IvfKmeansSpec extends SparkSuite {
  import spark.implicits._

  test("kmeans IVF finds the identical-vector neighbor; centroids partition the corpus") {
    val rnd = new scala.util.Random(5)
    val base = Array.tabulate(64)(i => (math.sin(i) / 4).toFloat)
    val rows = (0L to 60L).map(i =>
      if (i == 1L) (i, base) else (i, Array.fill(64)((rnd.nextGaussian() / 8).toFloat)))
    val d = rows.toDF("vec_id", "embedding")
    val queries = Seq((0L, base)).toDF("vec_id", "embedding") // query 0 == vec 1
    val got = graft.llm.Similarity.ivfKmeansTopK(queries, d,
        "vec_id", "vec_id", "embedding", k = 1, nCells = 4, nprobe = 2)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(got == Seq(1L)) // identical vector shares the cell by construction
    val cents = graft.llm.Similarity.kmeansCentroids(d, "vec_id", "embedding", 4)
    assert(cents.length == 4 && cents.forall(_.length == 64))
  }

  test("ivf assign/probe is the native graft_nearest_cells expression, not a Scala UDF") {
    // range-backed input: a LocalRelation would let ConvertToLocalRelation
    // constant-fold the assignment at optimization time and hide it
    val d = spark.range(30).select($"id".as("vec_id"),
      expr("transform(sequence(0, 15), i -> cast(sin(id * (i + 1)) / 4 as float))")
        .as("embedding"))
    val out = graft.llm.Similarity.ivfKmeansTopK(d.filter($"vec_id" < 4), d,
      "vec_id", "vec_id", "embedding", k = 2, nCells = 4, nprobe = 2, iters = 1)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("graft_nearest_cells"), plan.take(2000))
    assert(!plan.contains("UDF"), plan.take(2000))
  }

  test("kmeansCentroids trains on a bounded sample, deterministically") {
    val rnd = new scala.util.Random(11)
    val rows = (0L to 200L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val d = rows.toDF("vec_id", "embedding")
    val c1 = graft.llm.Similarity.kmeansCentroids(d, "vec_id", "embedding",
      k = 4, iters = 2, maxTrain = 50L)
    val c2 = graft.llm.Similarity.kmeansCentroids(d, "vec_id", "embedding",
      k = 4, iters = 2, maxTrain = 50L)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    assert(c1.length == 4)
  }
}

/** Product quantization: compression invariants, exact re-rank, recall. */
class PqSpec extends SparkSuite {
  import spark.implicits._
  import graft.llm.Similarity

  private lazy val corpus =
    Tables.load(spark, "/root/testdata/sf0.001", "embeddings")

  test("pqEncode: codes in range, one per subspace, deterministic; rnorm positive") {
    val books = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 8, k = 16)
    assert(books.length == 8 && books.forall(_.length == 16) &&
      books.forall(_.forall(_.length == 8)))
    val enc = Similarity.pqEncode(corpus, "vec_id", "embedding", books)
      .select($"vec_id", $"codes", $"rnorm")
      .as[(Long, Seq[Int], Double)].collect()
    assert(enc.forall { case (_, codes, rnorm) =>
      codes.length == 8 && codes.forall(c => c >= 0 && c < 16) && rnorm > 0.0 })
    val enc2 = Similarity.pqEncode(corpus, "vec_id", "embedding", books)
      .select($"vec_id", $"codes", $"rnorm")
      .as[(Long, Seq[Int], Double)].collect()
    assert(enc.sortBy(_._1).toSeq == enc2.sortBy(_._1).toSeq)
  }

  test("pqTopK returns k exact-cosine rows per query (ADC shortlist, exact re-rank)") {
    val q = corpus.filter($"vec_id" < 5)
    val k = 3
    val res = Similarity.pqTopK(q, corpus, "vec_id", "vec_id", "embedding",
        k = k, m = 16, codewords = 16, rerank = 8)
      .persist()
    val perQ = res.groupBy($"query_id").count().as[(Long, Long)].collect().toMap
    assert(perQ.size == 5 && perQ.values.forall(_ == k))
    // every returned cosine equals the exact cosine recomputed from vectors
    val emb = corpus.select($"vec_id", $"embedding")
    val bad = res
      .join(emb.toDF("query_id", "qv"), "query_id")
      .join(emb.toDF("neighbor_id", "cv"), "neighbor_id")
      .filter(!(Similarity.cosineExpr($"qv", $"cv") <=> $"cosine"))
      .count()
    assert(bad == 0L)
    res.unpersist()
  }

  test("pqTopK recall vs brute force clears the measured floor") {
    val q = corpus.filter($"vec_id" < 10)
    val k = 5
    def sets(df: org.apache.spark.sql.DataFrame) = df
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = sets(Similarity.bruteForceTopK(q, corpus, "vec_id", "vec_id", "embedding", k))
    val pq = sets(Similarity.pqTopK(q, corpus, "vec_id", "vec_id", "embedding",
      k, m = 16, codewords = 16, rerank = 8))
    val recalls = exact.map { case (id, ex) => (pq.getOrElse(id, Set.empty[Long]) & ex).size.toDouble / ex.size }
    val mean = recalls.sum / recalls.size
    // measured 0.88 on this table (BENCH_NOTES §Retired probes) --
    // 0.6 leaves margin
    assert(mean >= 0.6, f"mean recall $mean%.3f")
  }

  test("ivfPqTopK: k exact-cosine rows per query; recall clears the floor; scan is cell-pruned") {
    val q = corpus.filter($"vec_id" < 10)
    val k = 5
    val res = Similarity.ivfPqTopK(q, corpus, "vec_id", "vec_id", "embedding",
        k = k, nCells = 16, nprobe = 4, m = 16, codewords = 16, rerank = 8)
      .persist()
    val perQ = res.groupBy($"query_id").count().as[(Long, Long)].collect().toMap
    assert(perQ.size == 10 && perQ.values.forall(_ == k))
    val emb = corpus.select($"vec_id", $"embedding")
    val bad = res
      .join(emb.toDF("query_id", "qv"), "query_id")
      .join(emb.toDF("neighbor_id", "cv"), "neighbor_id")
      .filter(!(Similarity.cosineExpr($"qv", $"cv") <=> $"cosine"))
      .count()
    assert(bad == 0L)
    def sets(df: org.apache.spark.sql.DataFrame) = df
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = sets(Similarity.bruteForceTopK(q, corpus, "vec_id", "vec_id", "embedding", k))
    val got = sets(res)
    val recalls = exact.map { case (id, ex) => (got.getOrElse(id, Set.empty[Long]) & ex).size.toDouble / ex.size }
    val mean = recalls.sum / recalls.size
    // measured 0.90 at these params (BENCH_NOTES §Retired probes) --
    // 0.6 leaves margin
    assert(mean >= 0.6, f"mean recall $mean%.3f")
    res.unpersist()
  }

  test("ADC scan plan: codegen'd fold over literal codebooks, no UDF, queries broadcast") {
    val books = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 8, k = 16)
    val enc = Similarity.pqEncode(corpus, "vec_id", "embedding", books)
    val plan = enc.queryExecution.executedPlan.toString
    assert(plan.contains("graft_nearest_cells") && !plan.contains("UDF"), plan.take(2000))
  }
}
