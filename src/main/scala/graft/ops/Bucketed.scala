package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table co-located join: the engine's answer to the
  * reference's pre-sorted/pre-partitioned input optimizations —
  * `JOIN … USING 'merge'` with `OrderedLoadFunc` inputs
  * [R: …/relationalOperators/POMergeJoin.java] and map-side
  * `COLLECTED` grouping [R: …/relationalOperators/POCollectedGroup.java].
  *
  * Writing both sides bucketed+sorted by the join key lets every
  * subsequent join/groupBy on that key skip its Exchange entirely: at
  * 100 TB, for a fact table joined repeatedly on the same key, one
  * bucketed write amortizes away every future shuffle of that table.
  */
object Bucketed {

  /** Persist a DataFrame as a bucketed, sorted table (saveAsTable —
    * bucket metadata only exists through the catalog).
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int = 8): Unit =
    writeBucketed(df, table, Seq(key), buckets)

  /** Multi-column bucketing — e.g. an [[graft.llm.Dedup.lshBandIndex]]
    * bucketed by (band, key) so the indexed ingest's store-side bucket
    * aggregation is zero-Exchange.
    *
    * Stale-location recovery (r17 review, hoisted here from q96 so
    * EVERY caller gets it): a killed JVM can leave the catalog entry
    * gone but the warehouse directory populated — `mode("overwrite")`
    * then fails with "location is not empty". Drop the table AND
    * delete its would-be managed location (resolved through the
    * session catalog + Hadoop Path, so configured warehouse dirs,
    * URIs, and non-default databases all work) before writing. */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                    buckets: Int): Unit = {
    val spark = df.sparkSession
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    // quote PER PART: backticking the whole name turns a db-qualified
    // `db.tbl` into a single-part identifier in the current database,
    // so the DROP and the location delete below would target different
    // tables (r17 ADVICE)
    val quoted = (ident.database.toSeq :+ ident.table)
      .map(p => "`" + p.replace("`", "``") + "`").mkString(".")
    spark.sql(s"DROP TABLE IF EXISTS $quoted")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(ident))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Persist a small UNBUCKETED table (a manifest, a ledger) with the
    * same stale-location recovery and per-part name quoting as
    * [[writeBucketed]] — a killed JVM leaves the warehouse directory
    * populated with the catalog entry gone, and a bare
    * `DROP + saveAsTable` then fails "location is not empty" (the r17
    * hazard, re-found on the VectorIndex manifest in the r20 review).
    * Like any overwrite, `df` must not derive from a scan of `table`
    * itself — the target's files are deleted before the write; sever
    * with `localCheckpoint()` first (the writeBucketed rule). */
  def writePlain(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val quoted = (ident.database.toSeq :+ ident.table)
      .map(p => "`" + p.replace("`", "``") + "`").mkString(".")
    spark.sql(s"DROP TABLE IF EXISTS $quoted")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(ident))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite").format("parquet").saveAsTable(table)
  }

  /** Join two same-bucketed tables on their bucket key — planned
    * without any Exchange when bucket counts match.
    */
  def join(spark: SparkSession, leftTable: String, rightTable: String,
           leftKey: String, rightKey: String,
           joinType: String = "inner"): DataFrame = {
    val l = spark.table(leftTable)
    val r = spark.table(rightTable)
    l.join(r, l(leftKey) === r(rightKey), joinType)
  }

  /** GroupBy on the bucket key of a bucketed table — aggregation without
    * a shuffle (the COLLECTED-group analog). Routed through
    * [[collectedGroup]] so a non-bucketed (or wrong-key-bucketed)
    * table fails loudly instead of silently degrading to the full
    * shuffle the name promises to avoid (r17 review). */
  def groupBucketed(spark: SparkSession, table: String, key: String): DataFrame =
    collectedGroup(spark, table, key,
      Seq(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("count")))

  /** COLLECTED group [R: …/relationalOperators/POCollectedGroup.java]:
    * `GROUP … USING 'collected'` with arbitrary algebraic aggregates.
    * Pig requires a CollectableLoadFunc whose splits each hold complete
    * key groups, then groups entirely map-side with no shuffle; a
    * bucketed table IS that guarantee in Spark — the scan reports
    * HashPartitioning(bucket key), the aggregation's required
    * distribution is already satisfied, and the plan is a single
    * map-side-complete HashAggregate with ZERO Exchange (asserted in
    * BucketedSpec). At 100 TB: one bucketed write amortizes away every
    * future shuffle of repeated aggregations on that key.
    */
  def collectedGroup(spark: SparkSession, table: String, key: String,
                     aggs: Seq[org.apache.spark.sql.Column]): DataFrame = {
    require(aggs.nonEmpty, "collectedGroup needs at least one aggregate")
    // Pig raises a front-end error when the loader can't guarantee
    // collected grouping; mirror that: fail loudly if the table isn't
    // bucketed by `key`, instead of silently degrading to a shuffle.
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val bucketSpec = spark.sessionState.catalog.getTableMetadata(ident).bucketSpec
    require(bucketSpec.exists(_.bucketColumnNames.map(_.toLowerCase) == Seq(key.toLowerCase)),
      s"collectedGroup: table '$table' is not bucketed by '$key' " +
        s"(bucketSpec=$bucketSpec) — a COLLECTED group requires co-located input; " +
        "write it with Bucketed.writeBucketed first or use a plain groupBy")
    spark.table(table).groupBy(key).agg(aggs.head, aggs.tail: _*)
  }

  /** APPEND rows to an existing bucketed table — the ingest-loop's
    * store append made durable (r18): q128 proves the loop's
    * semantics over in-session checkpointed frames; production keeps
    * (fpStore, sigStore, bandIndex) as bucketed TABLES and appends
    * each batch's admitted rows here. Fails loudly unless the table
    * exists AND its bucket spec matches (`keys`, `buckets`) exactly —
    * Spark would otherwise throw away the co-location guarantee or
    * reject the write with an analysis error deep inside the loop.
    *
    * Post-append properties (spec-asserted in BucketedSpec): the scan
    * still reports HashPartitioning on the bucket keys, so joins and
    * aggregations on them stay ZERO-Exchange. The per-file SORT
    * guarantee weakens — each append writes its own sorted files, so
    * a bucket now holds several sorted runs and Spark re-sorts
    * (without shuffling) where a single-run bucket could skip the
    * sort. For the LSH band index and fingerprint stores the
    * aggregation/join co-location is the contract; the sort is
    * incidental.
    *
    * Small-files note: each append writes ≥ `buckets` new files, so a
    * long-running loop accumulates one file set per batch per bucket.
    * Compact periodically with [[compact]] (shuffle-free rewrite under
    * the same spec — co-location preserved, single-run sortedness
    * restored); at 100 TB that is a scheduled maintenance job, not a
    * per-batch cost.
    *
    * READ-MODIFY-WRITE HAZARD (r19, found by q129's parity check): if
    * the rows being appended derive from a scan of the SAME store
    * tables the loop is mutating, sever their lineage with
    * `localCheckpoint()` BEFORE the first append — `persist()` is NOT
    * enough. Each append's catalog refresh makes Spark RECACHE cached
    * plans that reference the appended table, so a persisted admit
    * frame silently recomputes against the half-mutated stores between
    * appends (observed: an admit set recomputed after its own
    * fingerprint append collapsed from 160 rows to the 3 chain tails
    * its own fingerprints no longer blocked). An RDD-backed frame has
    * no table dependency and is immune.
    */
  def appendBucketed(df: DataFrame, table: String, keys: Seq[String],
                     buckets: Int): Unit = {
    requireSpec(df.sparkSession, table, keys, buckets, "appendBucketed")
    // ONE file per bucket per append (r21, guide §6 small files): a
    // bucketed write with no pre-partitioning makes EVERY input task
    // write its own file per bucket it touches — tasks × buckets small
    // files per batch, the exact accumulation the compaction-cadence
    // experiment priced (file-count control is the value). Hash-
    // repartitioning by the bucket keys into `buckets` partitions uses
    // the same hash family as the bucket-id assignment, so each write
    // task holds exactly one bucket's rows and emits exactly one file.
    // Cost: one batch-sized shuffle per append (the appended delta is
    // batch-sized by the ingest contract — never the corpus); at
    // production scale `buckets` is sized to the cluster (thousands),
    // so write parallelism is preserved.
    df.repartition(buckets, keys.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("append")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Validate that `table` exists under exactly the (keys, buckets,
    * sortBy=keys) spec a graft-managed store carries — the append-time
    * check, factored out so a wiring-time caller (e.g.
    * `Curate.streamingIngest`) can fail BEFORE the first batch runs
    * its corpus-sized work. Catalog metadata only; no data touched. */
  def requireSpec(spark: SparkSession, table: String, keys: Seq[String],
                  buckets: Int, who: String): Unit = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    require(spark.sessionState.catalog.tableExists(ident),
      s"$who: table '$table' does not exist — bootstrap the store " +
        "with Bucketed.writeBucketed first")
    val spec = spark.sessionState.catalog.getTableMetadata(ident).bucketSpec
    // sortColumnNames too (r18 ADVICE): a table bootstrapped by an
    // external writer with a different (or absent) sortBy passes a
    // bucket-only check and then fails mid-write with Spark's own
    // "specified sorting does not match existing" AnalysisException —
    // exactly the deep-in-the-loop failure this require pre-empts
    require(spec.exists(s => s.numBuckets == buckets &&
        s.bucketColumnNames.map(_.toLowerCase) == keys.map(_.toLowerCase) &&
        s.sortColumnNames.map(_.toLowerCase) == keys.map(_.toLowerCase)),
      s"$who: table '$table' bucket spec $spec does not match " +
        s"(keys=$keys, buckets=$buckets, sortBy=$keys) — appending under a " +
        "different spec would silently break the zero-Exchange co-location " +
        "contract (or fail mid-write on a sort mismatch)")
  }

  /** COMPACT an appended bucketed table — the scheduled-maintenance
    * half of the ingest story that [[appendBucketed]]'s scaladoc
    * prescribes: each append writes ≥ `buckets` new files, so a
    * long-running loop accumulates one file set per batch per bucket
    * and each bucket degrades into many small sorted runs. This
    * rewrites the table under its OWN validated spec (read from the
    * catalog — no caller-supplied keys to get wrong), restoring
    * one-file-per-bucket layout and single-run sortedness; co-location
    * and content are preserved (spec-asserted in BucketedSpec).
    *
    * Mechanics: the content is rewritten into a sibling `_compacting`
    * table first (the original stays intact and readable for the whole
    * rewrite — at 100 TB this is a full-scan job, not a pause), then
    * the original is dropped and the sibling renamed into place.
    * Crash recovery, both cases fail-loud on rerun: a crash DURING
    * the rewrite leaves the original intact and a possibly-PARTIAL
    * sibling — drop the sibling and rerun (the error says so; it
    * never suggests renaming a partial rewrite into place). A crash
    * in the drop→rename window leaves the COMPLETE sibling as the
    * only copy — the error names the exact RENAME that finishes the
    * swap. Nothing is lost in either case.
    *
    * One-file-per-bucket, ZERO shuffle: the rewrite forces the
    * bucketed scan (`autoBucketedScan` off for the duration — with it
    * on, Spark elides a `repartition(buckets, keys)` against the
    * scan's declared HashPartitioning yet reads plain file splits, so
    * the write degrades to tasks × buckets files; probed empirically
    * on the shipped Spark 4.1.2). Bucket-grouped read partitions are
    * indexed BY bucket id — each write task holds exactly one bucket's
    * sorted runs and emits exactly one file, no Exchange anywhere.
    * That is the 100 TB shape: compaction cost = one read + one write
    * of the table, per-bucket parallel, no network movement.
    */
  /** File-count-budget compaction CADENCE (r22, the r20 deferred item;
    * guide §6 small files): compact only when the table's file count
    * says its buckets hold more than `maxRunsPerBucket` sorted runs on
    * average — the maintenance policy
    * [[graft.llm.Curate.streamingIngest]]'s scaladoc prescribes, made
    * mechanical. The check is metadata-only (one filesystem listing of
    * the table directory, no data read, no Spark job):
    * [[appendBucketed]] pre-partitions to at most ONE file per
    * bucket per append, so parquet files ÷ buckets approximates sorted
    * runs per bucket. It is a heuristic, not an exact per-bucket count:
    * the bootstrap [[writeBucketed]] does not pre-partition (up to
    * tasks × buckets files), which can trigger an early rewrite, and an
    * append that leaves buckets empty writes fewer files, so a skewed
    * bucket's run count can exceed what the average shows. A compact is
    * a full read+write of the table — running it on every trigger would
    * make maintenance cost O(triggers × table) instead of amortized
    * O(table × log); past the budget the rewrite restores
    * one-file-per-bucket and the counter resets.
    *
    * @return true iff a compact ran. */
  def compactIfNeeded(spark: SparkSession, table: String,
                      maxRunsPerBucket: Int = 8): Boolean = {
    require(maxRunsPerBucket >= 1,
      s"compactIfNeeded: maxRunsPerBucket must be >= 1, got $maxRunsPerBucket")
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    val buckets = meta.bucketSpec.map(_.numBuckets).getOrElse(
      throw new IllegalArgumentException(
        s"compactIfNeeded: table '$table' is not bucketed"))
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nFiles = fs.listStatus(loc)
      .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    if (nFiles > maxRunsPerBucket.toLong * buckets) { compact(spark, table); true }
    else false
  }

  def compact(spark: SparkSession, table: String): Unit = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    def quoted(i: org.apache.spark.sql.catalyst.TableIdentifier) =
      (i.database.toSeq :+ i.table)
        .map(p => "`" + p.replace("`", "``") + "`").mkString(".")
    val tmpIdent = ident.copy(table = ident.table + "_compacting")
    // crash-between-DROP-and-RENAME recovery: the original is gone but
    // the complete rewrite exists — say so instead of a bare "missing"
    require(spark.sessionState.catalog.tableExists(ident),
      s"compact: table '$table' does not exist" +
        (if (spark.sessionState.catalog.tableExists(tmpIdent))
          s" — but '${tmpIdent.table}' does: a previous compact crashed " +
            s"mid-swap AFTER the drop; it holds the COMPLETE rewritten " +
            s"content — ALTER TABLE ${quoted(tmpIdent)} RENAME TO " +
            s"${quoted(ident)} finishes the swap"
        else ""))
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    val spec = meta.bucketSpec
    require(spec.isDefined, s"compact: table '$table' is not bucketed — " +
      "compaction is the bucketed-store maintenance path (writeBucketed first)")
    val s = spec.get
    val keys = s.bucketColumnNames
    // the writeBucketed/appendBucketed family always writes sortBy ==
    // bucket columns; a table sorted differently came from an external
    // writer and rewriting it here would silently change its layout
    require(s.sortColumnNames.map(_.toLowerCase) == keys.map(_.toLowerCase),
      s"compact: table '$table' sortBy ${s.sortColumnNames} != bucket " +
        s"columns $keys — not a graft-managed bucketed store")
    // provider too (r19 ADVICE): a bucketed ORC/Avro table with
    // sortBy == bucket keys passes the spec check but writeBucketed
    // always writes parquet — compacting it would silently CHANGE the
    // table's format, not just its layout
    val provider = meta.provider.map(_.toLowerCase)
    require(provider.contains("parquet"),
      s"compact: table '$table' provider $provider is not parquet — " +
        "not a graft-managed bucketed store (compacting would rewrite it " +
        "as parquet, silently changing the table's format)")
    // the original still exists here, so a leftover sibling means the
    // crash happened DURING the rewrite (the widest window) and the
    // leftover may be PARTIAL — never suggest renaming it into place
    // (r19 review: the earlier message claimed completeness for this
    // case too; an operator following a rename hint would replace the
    // intact table with partial data). Completeness is only guaranteed
    // in the crash-AFTER-drop case, handled by the require above.
    require(!spark.sessionState.catalog.tableExists(tmpIdent),
      s"compact: leftover '${tmpIdent.table}' exists alongside the intact " +
        s"'$table' — a previous compact crashed during its rewrite and the " +
        s"leftover may be INCOMPLETE: drop it (DROP TABLE " +
        s"${quoted(tmpIdent)}) and rerun; the original is untouched")
    val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prevAuto = spark.conf.get(autoKey)
    spark.conf.set(autoKey, "false")
    // quoted per part (the writeBucketed r17-ADVICE discipline): a
    // single-part table name containing a dot must not re-parse as
    // db.table inside writeBucketed/saveAsTable
    try writeBucketed(spark.table(quoted(ident)), quoted(tmpIdent), keys, s.numBuckets)
    finally spark.conf.set(autoKey, prevAuto)
    spark.sql(s"DROP TABLE ${quoted(ident)}")
    spark.sql(s"ALTER TABLE ${quoted(tmpIdent)} RENAME TO ${quoted(ident)}")
  }
}
