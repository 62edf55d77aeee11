package graft

import graft.ops.PageRank

/** Fixed-point integer PageRank vs a driver-side replay of the same
  * recurrence. */
class PageRankSpec extends SparkSuite {
  import spark.implicits._

  /** The identical integer recurrence in plain Scala. */
  private def reference(edges: Seq[(Long, Long)], iters: Int,
                        scale: Long = PageRank.DefaultScale): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toLong
    val od = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val teleport = (scale / n) * 15 / 100
    var r = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val insum = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / od(s) }.sum).toMap
      r = nodes.map(v => v -> (teleport + insum.getOrElse(v, 0L) * 85 / 100)).toMap
    }
    r
  }

  private val diamond: Seq[(Long, Long)] =
    Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 1L), (5L, 1L))

  test("ranks equal the driver-side integer recurrence (incl. a no-inlink node)") {
    val got = PageRank.ranks(diamond.toDF("src", "dst"), iterations = 5)
      .as[(Long, Long)].collect().toMap
    val want = reference(diamond, 5)
    assert(got == want)
    // node 5 has no in-edges: rank is teleport-only after round 1
    val scale = PageRank.DefaultScale
    assert(want(5L) == (scale / 5) * 15 / 100)
  }

  test("ranks are exact under any partitioning") {
    val rnd = new scala.util.Random(9)
    val edges = Seq.fill(400)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }.distinct
    val a = PageRank.ranks(edges.toDF("src", "dst"), iterations = 4)
      .as[(Long, Long)].collect().toMap
    val b = PageRank.ranks(edges.toDF("src", "dst").repartition(13),
        iterations = 4)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
    assert(a == reference(edges, 4))
  }

  test("lazy-chain lineage cut: exact ranks, bounded plan, checkpoint blocks swept (r22)") {
    // 6 iterations crosses two localCheckpoint cuts (it = 2, 4); ranks
    // must stay bit-equal to the recurrence ACROSS the cuts
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val res = PageRank.ranks(diamond.toDF("src", "dst"), iterations = 6)
    assert(res.as[(Long, Long)].collect().toMap == reference(diamond, 6))
    // the returned frame's plan starts from the last cut, not from six
    // nested InMemoryRelations (the r21 q122 57k-line dump): the last
    // round is itself a localCheckpoint, so every leaf of the returned
    // plan is a flat RDD scan (LogicalRDD)
    val optimized = res.queryExecution.optimizedPlan
    val plan = optimized.toString
    assert(optimized.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]),
      s"expected the plan to read only a localCheckpoint cut (LogicalRDD):\n$plan")
    // bound is CutEvery-proportional, not iteration-proportional: at
    // most CutEvery un-cut levels (plus the nodes/eod cache nesting)
    // sit above the last cut — ~500 lines here vs the r21 uncut
    // 5-iteration dump's ~57k
    assert(plan.linesIterator.size < 800, s"plan not bounded: ${plan.linesIterator.size} lines")
    // intermediate checkpoint blocks are swept after the final action;
    // only the returned frame's own checkpoint may remain
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1, s"leaked persisted RDDs: $leaked")
    spark.sparkContext.getPersistentRDDs.foreach { case (id, r) =>
      if (!before.contains(id)) r.unpersist(true)
    }
    spark.catalog.clearCache()
  }

  test("the returned frame stays readable after tracked caches are released") {
    // the intermediate checkpoint blocks are swept inside ranks(); a
    // returned frame whose lineage still ran through them failed its
    // next recompute with "Checkpoint block not found"
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val res = PageRank.ranks(diamond.toDF("src", "dst"), iterations = 6)
    val first = res.as[(Long, Long)].collect().toMap
    graft.dsl.Rel.releaseTracked(blocking = true)
    assert(res.as[(Long, Long)].collect().toMap == first)
    assert(first == reference(diamond, 6))
    spark.sparkContext.getPersistentRDDs.foreach { case (id, r) =>
      if (!before.contains(id)) r.unpersist(true)
    }
    spark.catalog.clearCache()
  }

  // node 4 is a sink (no out-edges): the r17 dangling-policy surface
  private val sinkGraph: Seq[(Long, Long)] =
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (2L, 4L))

  test("an empty edge list fails loudly, not with a bare divide-by-zero (r17 review)") {
    val e = intercept[IllegalArgumentException] {
      PageRank.ranks(Seq.empty[(Long, Long)].toDF("src", "dst"), iterations = 1)
    }
    assert(e.getMessage.contains("non-empty edge list"))
  }

  test("default policy raises on a graph with a sink node") {
    val e = intercept[IllegalArgumentException] {
      PageRank.ranks(sinkGraph.toDF("src", "dst"), iterations = 2)
    }
    assert(e.getMessage.contains("no out-edges"))
  }

  test("leak policy reproduces the bare recurrence (deflated total)") {
    val got = PageRank.ranks(sinkGraph.toDF("src", "dst"), iterations = 3,
        dangling = "leak")
      .as[(Long, Long)].collect().toMap
    assert(got == reference(sinkGraph, 3))
    // the sink absorbed mass that then left the system
    val scale = PageRank.DefaultScale
    assert(got.values.sum < scale * 9 / 10, s"total=${got.values.sum}")
  }

  test("redistribute policy conserves total mass on a sink graph") {
    val scale = PageRank.DefaultScale
    val iters = 4
    val got = PageRank.ranks(sinkGraph.toDF("src", "dst"), iterations = iters,
        dangling = "redistribute")
      .as[(Long, Long)].collect().toMap
    val total = got.values.sum
    // conservation up to div truncation: each round loses < 1 ulp per
    // node per div (r div od, dm div n, the *85 div 100 damping)
    assert(total <= scale && total > scale - scale / 1000, s"total=$total")
    // and matches a driver-side replay of the redistribution recurrence
    val nodesL = (sinkGraph.map(_._1) ++ sinkGraph.map(_._2)).distinct.sorted
    val n = nodesL.size.toLong
    val od = sinkGraph.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val teleport = (scale / n) * 15 / 100
    var r = nodesL.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val dmPer = nodesL.filter(v => !od.contains(v)).map(r).sum / n
      val insum = sinkGraph.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / od(s) }.sum).toMap
      r = nodesL.map(v =>
        v -> (teleport + (insum.getOrElse(v, 0L) + dmPer) * 85 / 100)).toMap
    }
    assert(got == r)
  }

  test("check policy is bit-identical to leak on a sink-free graph") {
    val a = PageRank.ranks(diamond.toDF("src", "dst"), iterations = 3)
      .as[(Long, Long)].collect().toMap
    val b = PageRank.ranks(diamond.toDF("src", "dst"), iterations = 3,
        dangling = "leak")
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("on a bidirectional graph total rank stays within truncation loss of scale") {
    val pairs = Seq((1L, 10L), (2L, 10L), (2L, 11L), (3L, 11L), (3L, 12L))
    val edges = pairs ++ pairs.map(_.swap)
    val got = PageRank.ranks(edges.toDF("src", "dst"), iterations = 5)
      .as[(Long, Long)].collect()
    val total = got.map(_._2).sum
    val scale = PageRank.DefaultScale
    // every div truncation loses <1 ulp per node per term per round
    assert(total <= scale && total > scale - scale / 1000, s"total=$total")
  }
}
