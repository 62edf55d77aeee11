package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session + table-loading helpers shared by the whole engine.
  *
  * Design notes (SURVEY.md §4.2, §7): we lean on Catalyst/AQE instead of
  * hand-scheduling — adaptive execution (incl. skew-join handling, the
  * analog of the reference's skewed join support
  * [R: src/org/apache/pig/backend/hadoop/executionengine/physicalLayer/relationalOperators/POSkewedJoin.java])
  * is enabled centrally here.
  */
object Graft {

  /** Bound of Spark's codegen cache (see [[configure]]). Working set
    * measured with the cache unbounded: distinct generated classes over
    * one run each of perfbench `ingest_stream` and `pig_etl` and a
    * Bench pass of q128-q131 (sf0.1, its calibration probe and warm-up
    * included) — 242, 217 and 670 classes, with 168, 162 and 180 MB of
    * metaspace at exit. The bound is 3.0x the largest; a session whose
    * plans stay within it compiles each class once.
    */
  val CodegenCacheEntries = 2000

  /** Common engine configuration, applied to any SparkSession builder.
    *
    *  - ANSI off: Pig arithmetic wraps on int overflow and yields null on
    *    bad casts rather than erroring (SURVEY.md §2.1 gotchas).
    *  - AQE + skew-join: replaces the reference's sampling-based skewed
    *    join with runtime re-planning.
    *  - nanosAsLong: the `events` table ships as parquet timestamp[ns],
    *    which Spark has no native type for; we read the raw int64 and
    *    normalize in [[Tables.load]].
    *  - codegen cache bound [[CodegenCacheEntries]]: Spark's generated-
    *    class cache (`spark.sql.codegen.cache.maxEntries`, a static,
    *    JVM-wide conf) defaults to 100 entries. One `Curate.ingestBatch`
    *    plans more distinct classes than that, so with LRU eviction every
    *    lookup of the next batch missed and each batch Janino-compiled
    *    ~90-113 classes again (10-13 ms each, ~1.1-1.5 s of driver time
    *    per batch). See the constant for the measured working set.
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.filterPushdown", "true")
    .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")

  /** Local session for tests/tools. */
  def localSession(cpus: Int = 4, appName: String = "graft"): SparkSession = {
    val s = configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(appName)
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Uniform access to the driver-generated parquet tables (TESTDATA.md).
  *
  * Mirrors the reference's `LOAD` with a self-describing format
  * [R: src/org/apache/pig/newplan/logical/relational/LOLoad.java]:
  * schema-on-read from parquet (inferred once per file listing, see
  * [[graft.sources.Loaders]]), plus per-table normalization quirks.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one table from an sf directory. `events.ts` is normalized to
    * a session-UTC TimestampType truncated to microseconds — the same
    * truncation DuckDB applies, so oracle comparisons line up — for
    * either physical encoding the generator has shipped: parquet
    * timestamp[ns] (no Spark equivalent; read raw via `nanosAsLong`
    * and divided down) or timestamp[us] (read as TIMESTAMP_NTZ under
    * Spark's tz-naive inference; cast is identity in a UTC session).
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // nanosAsLong is session config owned by Graft.configure (every
    // repo entry point builds its session through it); load() no
    // longer force-sets it per call — mutating a caller's session as a
    // read side effect changed parquet nanos semantics for all their
    // unrelated reads (r17 review). A foreign session without the flag
    // fails LOUDLY on nanos files ("Illegal Parquet type"), which is
    // the correct surface for the fix.
    val df = graft.sources.Loaders.parquet(spark, s"$sfDir/$name.parquet")
    name match {
      case "events" =>
        df.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            // `div` truncates toward ZERO — deliberately: DuckDB's own
            // ns→us read does too (empirically: -1500 ns reads back as
            // epoch_us = -1, not floor's -2), so pre-epoch timestamps
            // stay bit-equal cross-engine. Do NOT "fix" this to a
            // floor division (r17 review proposed it; refuted by the
            // probe above).
            df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          case _ =>
            df.withColumn("ts", col("ts").cast("timestamp"))
        }
      case _ => df
    }
  }
}
