package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** RANK rel [BY keys [DENSE]] — global rank column (SURVEY.md §2.1 #16,
  * [R: …/relationalOperators/PORank.java, POCounter.java]).
  *
  * The reference computes per-partition counts then adds prefix offsets
  * (two passes). A naive Spark translation — `row_number() over (ORDER
  * BY …)` with no PARTITION BY — collapses everything onto ONE task,
  * which is exactly the bottleneck we must not have at 100 TB. We keep
  * the reference's 2-pass shape but on Spark primitives:
  *
  *   1. range-repartition + local sort on the rank keys (same machinery
  *      as ORDER BY: sampled RangePartitioner),
  *   2. `zipWithIndex`-style per-partition offsets (one tiny job that
  *      counts partitions, then a map embedding the running offset).
  *
  * Both passes are fully parallel; no single-reducer stage.
  */
object Rank {

  /** Dense global row number (1-based) by sort keys: RANK rel BY keys
    * with unique keys, or bare RANK over a caller-defined canonical
    * order (bare-RANK "file order" has no distributed meaning — callers
    * must supply a deterministic key; SURVEY.md §7.4 #3).
    */
  def rowNumber(df: DataFrame, sortCols: Seq[Column],
                as: String = "rank"): DataFrame = {
    val sorted = df.orderBy(sortCols: _*) // Exchange(RangePartitioning) + local sort
    val schema = StructType(sorted.schema.fields :+ StructField(as, LongType, nullable = false))
    val withIdx = sorted.rdd.zipWithIndex().map { case (row, i) =>
      Row.fromSeq(row.toSeq :+ (i + 1L))
    }
    df.sparkSession.createDataFrame(withIdx, schema)
  }

  /** Global running sum of a long column in a total order — the
    * POCounter 2-pass pattern generalized from counting rows to
    * summing a value: range-repartition + local sort, one tiny job
    * collecting per-partition totals (numPartitions longs on the
    * driver — bounded by cluster size, not data), then a map embedding
    * each partition's exclusive offset. No single-partition Window
    * anywhere; both passes fully parallel.
    *
    * Appends `as` = inclusive prefix sum of `valueCol` over sortCols
    * order.
    */
  def prefixSum(df: DataFrame, sortCols: Seq[Column], valueCol: String,
                as: String = "cum", checkUniqueSort: Boolean = false): DataFrame = {
    // like rowNumber: sortCols MUST be a deterministic total order —
    // the totals job and the embedding job each evaluate the sorted
    // lineage, and ties re-ordered between runs would split offsets.
    // NOTE the same two-job shape means an EXPENSIVE upstream (e.g. a
    // per-row encode kernel) runs twice unless the caller persists it
    // first — Curate.tokenPack does (SCALECURVE.md §q125 token-pack:
    // 2x the encode cost un-persisted); cheap-scan callers should NOT
    // (the r10 q78 measurement: persisting a plain corpus scan was the
    // pessimization).
    // checkUniqueSort=true runs one extra debug aggregation asserting
    // the sort keys really are unique (off by default: it costs a scan).
    val vf = df.schema(df.schema.fieldIndex(valueCol))
    require(vf.dataType == LongType,
      s"prefixSum: column '$valueCol' must be LongType, got ${vf.dataType} — cast it first")
    if (checkUniqueSort) {
      // sortCols may carry SortOrder wrappers (col.asc/desc), which are
      // not selectable — strip the ordering down to the key expression
      val keys = sortCols.map(org.apache.spark.sql.graftshims.GraftSqlShims.sortKey)
      val sortOnly = df.select(keys: _*)
      val total = sortOnly.count()
      val dist = sortOnly.distinct().count()
      require(dist == total,
        s"prefixSum: sortCols are not a unique total order ($dist distinct keys over $total rows) — offsets would split nondeterministically")
    }
    val sorted = df.orderBy(sortCols: _*)
    val valIdx = sorted.schema.fieldIndex(valueCol)
    val rdd = sorted.rdd
    val partSums = rdd.mapPartitionsWithIndex { (i, it) =>
      var s = 0L
      it.foreach { r =>
        if (r.isNullAt(valIdx))
          throw new IllegalArgumentException(s"prefixSum: null in value column '$valueCol'")
        s += r.getLong(valIdx)
      }
      Iterator((i, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _)
    val schema = StructType(sorted.schema.fields :+ StructField(as, LongType, nullable = false))
    val withCum = rdd.mapPartitionsWithIndex { (i, it) =>
      var run = offsets(i)
      it.map { r => run += r.getLong(valIdx); Row.fromSeq(r.toSeq :+ run) }
    }
    df.sparkSession.createDataFrame(withCum, schema)
  }

  /** RANK rel BY keys — standard competition rank (ties share the
    * minimum row number; gaps after ties). Scalable: row numbers from
    * the 2-pass pipeline, then per-key min broadcast back. When the
    * number of distinct rank keys is small this join broadcasts; AQE
    * decides otherwise.
    */
  /** Null-safe join-back on key columns: RANK BY keeps null-key rows
    * (nulls are a rank group of their own, ordering first in Pig), but
    * a usingColumns inner join would drop them (null == null is not
    * true). Renames the lookup side's keys and joins with <=>.
    */
  private def joinBackNullSafe(base: DataFrame, lookup: DataFrame,
                               keyNames: Seq[String],
                               bcast: Boolean): DataFrame = {
    val lookupR0 = keyNames.foldLeft(lookup) { (d, k) =>
      d.withColumnRenamed(k, s"_graft_rk_$k")
    }
    val lookupR = if (bcast) broadcast(lookupR0) else lookupR0
    val cond = keyNames.map(k => col(k) <=> col(s"_graft_rk_$k")).reduce(_ && _)
    base.join(lookupR, cond)
      .drop(keyNames.map(k => s"_graft_rk_$k"): _*)
  }

  def rank(df: DataFrame, keyCols: Seq[String], ascending: Boolean = true,
           as: String = "rank"): DataFrame = {
    val sortCols = keyCols.map(c => if (ascending) col(c).asc else col(c).desc)
    val rn = rowNumber(df, sortCols, "_rn")
    val mins = rn.groupBy(keyCols.map(col).toIndexedSeq: _*)
      .agg(min("_rn").as(as))
    joinBackNullSafe(rn, mins, keyCols, bcast = false).drop("_rn")
  }

  /** General RANK BY with per-key directions (compiler entry point):
    * sortCols define the total preorder, keyNames the tie-grouping
    * columns (the same keys, already materialized as columns).
    */
  def rankBy(df: DataFrame, sortCols: Seq[Column], keyNames: Seq[String],
             dense: Boolean, as: String): DataFrame =
    if (!dense) {
      val rn = rowNumber(df, sortCols, "_rn")
      val mins = rn.groupBy(keyNames.map(col).toIndexedSeq: _*).agg(min("_rn").as(as))
      joinBackNullSafe(rn, mins, keyNames, bcast = false).drop("_rn")
    } else {
      val keys = df.select(keyNames.map(col).toIndexedSeq: _*).distinct()
      val ranked = rowNumber(keys, sortCols, as)
      // no forced broadcast: this is the compiler entry point for
      // EVERY dense rank, and a near-unique key column makes the
      // distinct set data-sized — a hardwired hint would collect it
      // to the driver regardless. AQE upgrades the join to broadcast
      // on its own whenever the set is actually small (r17 review).
      joinBackNullSafe(df, ranked, keyNames, bcast = false)
    }

  /** DENSE rank by keys — rank over the distinct key set, joined back
    * (AQE broadcasts the join when the set is actually small; see
    * rankBy for why the hint is never forced). */
  def denseRank(df: DataFrame, keyCols: Seq[String], ascending: Boolean = true,
                as: String = "rank"): DataFrame = {
    val keys = df.select(keyCols.map(col).toIndexedSeq: _*).distinct()
    val sortCols = keyCols.map(c => if (ascending) col(c).asc else col(c).desc)
    val ranked = rowNumber(keys, sortCols, as)
    joinBackNullSafe(df, ranked, keyCols, bcast = false)
  }
}
