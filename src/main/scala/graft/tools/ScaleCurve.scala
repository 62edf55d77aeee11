package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Graft, Tables}

/** Scale-curve fixture writer: an m× copy of an sf directory that
  * `graft.Bench` times like any other (`SPARK_GRAFT_SF_DIR`), so a
  * scale curve runs the shipped `SparkEntry` query bodies, not restated
  * ones. `tools/scalecurve.sh` drives writer and Bench per factor;
  * SCALECURVE.md records the curves.
  *
  *   sbt "runMain graft.tools.ScaleCurve <baseDir> <outRoot> <m>"
  *
  * writes `<outRoot>/x<m>/` and prints its path (at m = 1, the base
  * dir itself). The multiplied tables hold the base rows plus copies
  * c = 1 … m-1:
  *   - documents: every word re-keyed `x{c}_w`, so copies' shingle
  *     spaces are pairwise DISJOINT — no cross-copy near-duplicates,
  *     exact-duplicate collapse cannot absorb the growth, and each copy
  *     keeps the base's internal near-dup structure (word-consistent
  *     mutation preserves within-copy Jaccard). Duplicate density stays
  *     constant while volume grows m×, so a linear pipeline draws a
  *     linear curve and per-document outputs grow exactly m×.
  *   - embeddings: a per-copy ±1 diagonal (sign from xxhash64(c, dim)
  *     parity) — an isometry, so within-copy geometry is preserved
  *     while copies land in different regions.
  *   - events: user_id offset (disjoint per-user structure) and ts
  *     shifted by c×(span+1 h), so time DENSITY is constant — range
  *     and as-of joins would otherwise grow m² by construction.
  * Ids move by c·[[IdStride]] and every other column passes through;
  * a documents row whose `n_chars` equals `length(text)` keeps that
  * relation under the re-keyed text. The TPC-H tables are symbolic
  * links to the base files.
  */
object ScaleCurve {

  /** Per-copy id offset: a multiple of 20, so `doc_id % 20` (q33's
    * block key) and `% 10` (`derivedDocs`' sampling) hold per copy. */
  val IdStride = 10000000L

  val multiplied: Seq[String] = Seq("documents", "embeddings", "events")

  /** Copy c ≥ 1 of one multiplied table: the base columns in order,
    * with `over`'s expressions in place of the columns they name. */
  private def copyOf(base: DataFrame, over: Map[String, Column]): DataFrame =
    base.select(base.columns.map(n => over.getOrElse(n, col(n)).as(n)).toSeq: _*)

  private def offset(name: String, c: Int, stride: Long = IdStride): (String, Column) =
    name -> (col(name) + c * stride)

  private def copies(name: String, base: DataFrame, m: Int): DataFrame = {
    val over: Int => Map[String, Column] = name match {
      case "documents" => c =>
        val text = concat_ws(" ",
          transform(split(col("text"), " "), w => concat(lit(s"x${c}_"), w)))
        Map(offset("doc_id", c), "text" -> text, "n_chars" ->
          when(col("n_chars") <=> length(col("text")), length(text))
            .otherwise(col("n_chars")))
      case "embeddings" => c =>
        Map(offset("vec_id", c), "embedding" -> transform(col("embedding"),
          (x, i) => when(pmod(xxhash64(lit(c), i), lit(2)) === 0, x).otherwise(-x)))
      case "events" =>
        val b = base.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
        val shift = b.getLong(1) - b.getLong(0) + 3600000000L
        c => Map(offset("event_id", c, 10 * IdStride), offset("user_id", c),
          "ts" -> timestamp_micros(unix_micros(col("ts")) + c * shift))
    }
    (1 until m).map(c => copyOf(base, over(c))).foldLeft(base)(_ union _)
  }

  /** Write `<outRoot>/x<m>/` from `baseDir` and return its path; at
    * m = 1 nothing is written and `baseDir` is returned. */
  def write(spark: SparkSession, baseDir: String, outRoot: String, m: Int): String = {
    require(m >= 1, s"factor must be >= 1, got $m")
    if (m == 1) return baseDir
    val out = Paths.get(outRoot, s"x$m").toAbsolutePath
    Files.createDirectories(out)
    for (name <- Tables.all) {
      val target = out.resolve(s"$name.parquet")
      if (multiplied.contains(name))
        copies(name, Tables.load(spark, baseDir, name), m)
          .write.mode("overwrite").parquet(target.toString)
      else {
        Files.deleteIfExists(target)
        Files.createSymbolicLink(target,
          Paths.get(baseDir, s"$name.parquet").toAbsolutePath)
      }
    }
    out.toString
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleCurve <baseDir> <outRoot> <m>")
    val spark = Graft.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "scale-curve")
    try println(write(spark, args(0), args(1), args(2).toInt))
    finally spark.stop()
  }
}
