package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Fixed-iteration PageRank (Brin & Page 1998) over an edge list, in
  * EXACT fixed-point integer arithmetic — the iterative-graph operator
  * family (the reference's closest surface is repeated
  * JOIN/GROUP rounds scripted by hand [R: test/e2e/pig/ iterative
  * scripts], which is exactly what this compiles to, minus the
  * re-scans).
  *
  * Arithmetic contract: ranks are longs scaled by `scale` (default
  * 1e12); the contribution `r div outdeg` and the damping
  * `insum·85 div 100` use integral division, so every iteration is
  * exact integer math — deterministic under any partitioning, and
  * re-derivable in ANSI SQL (the q122 oracle unrolls the same
  * recurrence with `//`). The truncation loses < outdeg ulps of 1e-12
  * per node per iteration — noise at ranking granularity, bought for
  * bit-exact cross-engine equality (the integer-PR analog of the
  * repo's integer-nano BM25 scores).
  *
  * Dangling nodes (no out-edges) and the `dangling` policy: a sink
  * node's rank mass leaves the system every round under the bare
  * recurrence — the classic leak, which silently DEFLATES every rank
  * on directed graphs (the common case: web graphs, citation graphs).
  * The r16 advice pass flagged the old leak-by-default API; policies:
  *   - `"check"` (default): one anti-join count up front; raises if
  *     any node has outdeg 0, so a directed graph can never silently
  *     deflate. Zero per-iteration cost; arithmetic identical to the
  *     bare recurrence (q122's bidirectional graph is bit-unchanged).
  *   - `"redistribute"`: the standard correction — each round the
  *     summed dangling mass `dm` is split evenly, every node's in-sum
  *     gains `dm div n` before damping:
  *     `r' = teleport + (insum + dm div n)·85 div 100`. Still exact
  *     integer math (the `dm` scalar is one driver-read aggregate of
  *     the persisted rank table per round, model-sized like the
  *     existing count barrier); total mass is conserved to div
  *     truncation (spec-asserted on a sink graph).
  *   - `"leak"`: the bare recurrence, for callers who accept the
  *     deflation (or whose graphs are known sink-free and want to
  *     skip the check).
  *
  * Scale shape (the 100 TB contract):
  *   - out-degree is attached to the edge list ONCE; the per-iteration
  *     work is one hash join (edges ⋈ ranks on src) + one aggregation
  *     (sum by dst) — the canonical two-shuffle PR round;
  *   - edges+degree are persisted pre-partitioned by `src`, so only
  *     the (much smaller) rank table moves each round;
  *   - each new rank table is persisted, so lineage is one CACHED level
  *     deep, no exponential replay. check/leak materialize the whole
  *     chain in ONE action at the end (no per-round driver barrier —
  *     r21: 5 count() jobs replaced by 1; the action is the last
  *     round's eager localCheckpoint); redistribute materializes
  *     per round (its dangling-mass scalar reads the previous table)
  *     and unpersists eagerly, keeping ≤ 2 rank tables cached;
  *   - `redistribute` adds one scan of the persisted rank table per
  *     round (the dangling flag rides the node table — no extra join).
  */
object PageRank {

  val DefaultScale = 1000000000000L // 1e12 fixed-point

  /** @param edges (src long, dst long) directed edges, pre-deduped by
    *              the caller if multiplicity is not intended.
    * @param dangling `"check"` (raise on sink nodes, default),
    *                 `"redistribute"` (conserve mass) or `"leak"`.
    * @return (node, r) — r is the scaled rank after `iterations`
    *         damped rounds from the uniform start `scale div N`.
    */
  def ranks(edges0: DataFrame, iterations: Int = 5,
            scale: Long = DefaultScale,
            dangling: String = "check"): DataFrame = {
    require(iterations >= 1, "pagerank needs at least one iteration")
    require(Set("check", "redistribute", "leak")(dangling),
      s"unknown dangling policy '$dangling' (check|redistribute|leak)")
    val edges = edges0.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
    // dang flag rides the node table: true ⇔ outdeg 0 (sink)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .join(outdeg.select(col("src").as("node"), lit(true).as("has_out")),
        Seq("node"), "left")
      .select(col("node"), coalesce(!col("has_out"), lit(true)).as("dang"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // ONE job over the persisted node table answers both driver
    // scalars (node count + sink count); count() + filter().count()
    // was two
    val firstRow = nodes.agg(count(lit(1)),
      sum(when(col("dang"), 1L).otherwise(0L))).head()
    val n = firstRow.getLong(0)
    require(n > 0, "pagerank needs a non-empty edge list")
    if (dangling == "check") {
      val sinks = firstRow.getLong(1)
      require(sinks == 0L,
        s"pagerank: $sinks node(s) have no out-edges — rank mass would " +
          "leak; pass dangling=\"redistribute\" (or \"leak\" to accept)")
    }
    // degree rides the edge list once; partitioned by src so each
    // round's join moves only the rank table
    val eod = edges.join(outdeg, Seq("src"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val teleport = (scale / n) * 15 / 100
    var ranks = nodes.select(col("node"), col("dang"), lit(scale / n).as("r"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var prev: Option[DataFrame] = Some(ranks)
    // check/leak need NO per-round driver scalar, so the whole chain can
    // materialize in ONE action at the end instead of one count() per
    // round (guide §1.2: fewer passes/actions first) — each round's
    // frame is still persisted, so the single pass caches every level
    // as it computes (no recomputation), and the intermediates are
    // dropped right after. Memory trade, stated: iterations+1 rank
    // tables are cached at the barrier instead of 2 — rank tables are
    // NODE-sized (model-class next to the edge table), MEMORY_AND_DISK
    // spillable. redistribute keeps the per-round barrier: its dangling
    // mass is a driver scalar read from the previous round's table.
    val lazyChain = dangling != "redistribute"
    var intermediates: List[DataFrame] = Nil
    // lazy-chain LINEAGE CUT (r22, VERDICT r21 item 5): each persisted
    // round nests the full child plan inside its InMemoryRelation, so
    // the final plan grew superlinearly in iterations (q122's r21
    // formatted dump: ~57k lines at 5 rounds — harmless here, but
    // planning time and driver memory blow up at higher counts). Every
    // CutEvery-th round is severed with localCheckpoint(eager = false)
    // instead of persisted: LAZY, so the chain still materializes in
    // the ONE action below (the checkpoint stores each marked level's
    // partitions as that single pass computes them — no extra barrier,
    // no recomputation), while the plan above the cut starts from a
    // flat RDD scan. The checkpointed blocks are swept after the final
    // action by id (localCheckpoint blocks are invisible to
    // Dataset.unpersist — the Bench/ingestBatch discipline).
    val CutEvery = 2
    var ckptRddIds: List[Int] = Nil
    val sc = edges.sparkSession.sparkContext
    for (it <- 1 to iterations) {
      // redistribute: the round's dangling mass, one model-sized
      // driver scalar off the persisted rank table (doubles as the
      // materialization barrier the count() otherwise provides)
      val dmPerNode =
        if (lazyChain) 0L
        else {
          val dm = ranks.filter(col("dang"))
            .agg(coalesce(sum(col("r")), lit(0L))).head().getLong(0)
          dm / n
        }
      val insum = eod.join(ranks, eod("src") === ranks("node"))
        .select(eod("dst"), expr("r div od").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("insum"))
      val nextBase = nodes.join(insum, nodes("node") === insum("dst"), "left")
        .select(nodes("node"), nodes("dang"),
          (lit(teleport) +
            expr(s"(coalesce(insum, 0L) + ${dmPerNode}L) * 85 div 100")).as("r"))
      // the LAST lazy-chain round is an EAGER localCheckpoint: it is
      // the ONE materializing action (every marked and persisted level
      // below fills as it computes), and it cuts the returned frame's
      // own lineage, so no later read of it needs the blocks the
      // checkpoint-id sweep below deletes
      val next =
        if (lazyChain && it == iterations) nextBase.localCheckpoint(eager = true)
        else if (lazyChain && it % CutEvery == 0) {
          val before = sc.getPersistentRDDs.keySet
          val cut = nextBase.localCheckpoint(eager = false)
          ckptRddIds :::= (sc.getPersistentRDDs.keySet -- before).toList
          cut
        } else graft.dsl.Rel.track(nextBase.persist(StorageLevel.MEMORY_AND_DISK))
      if (lazyChain) intermediates ::= ranks
      else {
        next.count() // materialize before dropping the parent
        prev.foreach(_.unpersist())
        prev = Some(next)
      }
      ranks = next
    }
    if (lazyChain) {
      intermediates.foreach(_.unpersist())
      ckptRddIds.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    }
    nodes.unpersist()
    eod.unpersist()
    ranks.select(col("node"), col("r"))
  }
}
