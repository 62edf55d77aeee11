package graft.sources

import java.util.concurrent.ConcurrentHashMap
import scala.util.control.NonFatal
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Load/Store function surface (SURVEY.md §2.4 "Load/Store functions"):
  * the reference's pluggable LoadFunc/StoreFunc pairs
  * [R: src/org/apache/pig/LoadFunc.java, StoreFunc.java] map onto
  * Spark's built-in DataSource formats — which already provide the
  * pushdown hooks LoadMetadata/LoadPushDown expose (partition pruning,
  * projection and predicate pushdown come from the format, SURVEY.md
  * §4.1).
  *
  * | reference | here |
  * |---|---|
  * | PigStorage(delim) | delimited csv (+ explicit or inferred schema) |
  * | TextLoader        | text (one chararray column) |
  * | JsonLoader/JsonStorage | json |
  * | BinStorage/InterStorage | parquet (the engine's binary format) |
  * | OrcStorage        | spark's builtin orc format |
  * | AvroStorage       | splittable avro-mapred reader/writer ([[AvroStorage]]) |
  *
  * Schema once per file listing. Pig asks a loader for its schema once
  * per script (`LoadMetadata.getSchema`); Spark infers it on every read,
  * and the inference is a job: parquet reads a footer, csv with
  * `inferSchema` and json scan the data. The loaders that infer
  * ([[parquet]], [[pigStorage]] and [[jsonLoader]] without a schema) go
  * through one cache of inferred schemas. Its key is
  *  - the format and its options (`sep` for csv), with the qualified path;
  *  - the path's leaf listing: every file's name, length and mtime;
  *  - every `spark.sql.*` setting the session holds, a superset of the
  *    inference settings (`nanosAsLong`, `binaryAsString`,
  *    `int96AsTimestamp`, `inferTimestampNTZ`, `mergeSchema`, ...).
  * A read that matches its entry passes the cached schema to
  * `spark.read.schema`, which runs no inference job; one that does not
  * infers and replaces the entry, so the cache holds one entry per
  * (format, options, path). A STORE into a loaded path therefore shows
  * on the next LOAD: Spark's writers name every part file with a job
  * UUID. The one change the key cannot see is a file rewritten in place
  * under the same name with the same length inside the filesystem's
  * mtime resolution. Checking the key costs one listing of the path per
  * read, beside the one Spark makes to plan the scan. Glob paths and paths that cannot be listed are read
  * uncached, so they fail as Spark fails them. Bench and Verify
  * iterations in one JVM share the cache: only a table's first load
  * pays inference.
  */
object Loaders {

  private final case class Inferred(listing: Seq[(String, Long, Long)],
                                    settings: Map[String, String],
                                    schema: StructType)

  // Engines on other threads share it. Two that miss on one key at once
  // both infer and the last put wins; each entry holds the listing taken
  // before its inference, so either is valid for the files it names.
  private val inferred =
    new ConcurrentHashMap[(String, Map[String, String], String), Inferred]()

  /** Reads `path` as `format`, inferring its schema only when the cache
    * (see above) holds none for the path's current listing. */
  private def read(spark: SparkSession, format: String,
                   options: Map[String, String], path: String): DataFrame = {
    val reader = spark.read.format(format).options(options)
    listing(spark, path) match {
      case None => reader.load(path)
      case Some((qualified, files)) =>
        val key = (format, options, qualified)
        val settings = spark.conf.getAll.filter(_._1.startsWith("spark.sql."))
        Option(inferred.get(key))
          .filter(e => e.listing == files && e.settings == settings) match {
          case Some(e) => reader.schema(e.schema).load(path)
          case None =>
            val df = reader.load(path)
            inferred.put(key, Inferred(files, settings, df.schema))
            df
        }
    }
  }

  /** The qualified path and its leaf files (name, length, mtime), sorted;
    * None for a glob or a path that cannot be listed. */
  private def listing(spark: SparkSession,
                      path: String): Option[(String, Seq[(String, Long, Long)])] =
    if (path.exists("{}[]*?\\".contains(_))) None
    else try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def leaves(s: FileStatus): Iterator[FileStatus] =
        if (s.isDirectory) fs.listStatus(s.getPath).iterator.flatMap(leaves)
        else Iterator(s)
      val q = fs.makeQualified(p)
      Some((q.toString, leaves(fs.getFileStatus(q))
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .toSeq.sortBy(_._1)))
    } catch { case NonFatal(_) => None }

  def pigStorage(spark: SparkSession, path: String, delim: String = "\t",
                 schema: Option[StructType] = None): DataFrame = schema match {
    case Some(s) => spark.read.option("sep", delim).schema(s).csv(path)
    case None => read(spark, "csv", Map("sep" -> delim, "inferSchema" -> "true"), path)
  }

  def textLoader(spark: SparkSession, path: String,
                 colName: String = "line"): DataFrame =
    spark.read.text(path).toDF(colName)

  def jsonLoader(spark: SparkSession, path: String,
                 schema: Option[StructType] = None): DataFrame =
    schema.fold(read(spark, "json", Map.empty, path))(spark.read.schema(_).json(path))

  /** BinStorage analog, and the reader of the engine's parquet tables. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    read(spark, "parquet", Map.empty, path)

  /** OrcStorage analog — Spark's builtin ORC source (predicate pushdown
    * and column pruning come with it, like parquet).
    */
  def orcLoader(spark: SparkSession, path: String,
                schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.map(r.schema).getOrElse(r).orc(path)
  }

  /** AvroStorage analog. The spark-avro connector jar is absent in this
    * offline environment, so this is NOT `spark.read.format("avro")` —
    * it's a direct splittable reader/writer on `avro` + `avro-mapred`
    * (which DO ship with the distribution); see
    * [[graft.sources.AvroStorage]] for the type surface and scale notes.
    */
  def avroLoader(spark: SparkSession, path: String): DataFrame =
    AvroStorage.avroLoader(spark, path)

  /** Column-pruned Avro load: only `columns` are decoded (projected
    * reader schema; dropped fields are binary-skipped). */
  def avroLoader(spark: SparkSession, path: String,
                 columns: Seq[String]): DataFrame =
    AvroStorage.avroLoader(spark, path, Some(columns))

  def storeAvro(df: DataFrame, path: String): Unit =
    AvroStorage.storeAvro(df, path)

  def storeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** PigStorage sink; `codec` mirrors Pig's transparent Hadoop
    * compression (a `.gz`/`.bz2` path compresses on write, and ANY
    * loader reads compressed parts back transparently
    * [R: src/org/apache/pig/builtin/PigStorage.java] — splittability
    * caveat: gzip parts are one split each, so at 100 TB prefer many
    * medium parts or a splittable codec).
    */
  def storePigStorage(df: DataFrame, path: String, delim: String = "\t",
                      codec: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite").option("sep", delim)
    codec.fold(w)(c => w.option("compression", c)).csv(path)
  }

  def storeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def storeBin(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)
}
