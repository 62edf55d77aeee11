package graft

import org.apache.spark.sql.functions._
import graft.queries.QCommon
import graft.tools.ScaleCurve

/** The scale-curve fixture: an m× directory Bench can time in place of
  * the base. Row counts, id uniqueness, the per-copy keys the queries
  * block and sample on, disjoint copy vocabularies and the linked TPC-H
  * tables are what make an m× curve read as "m× the work". */
class ScaleCurveSpec extends SparkSuite {
  import spark.implicits._

  private val base = "/root/testdata/sf0.001"
  private val m = 3
  private lazy val root = java.nio.file.Files.createTempDirectory("scalecurve")
  private lazy val dir = ScaleCurve.write(spark, base, root.toString, m)

  override def afterAll(): Unit = {
    new scala.reflect.io.Directory(root.toFile).deleteRecursively()
    super.afterAll()
  }

  private def load(d: String, name: String) = Tables.load(spark, d, name)

  test("m = 1 is the base directory itself") {
    assert(ScaleCurve.write(spark, base, root.toString, 1) == base)
  }

  test("multiplied tables hold exactly m× the base rows, with unique ids") {
    for ((name, id) <- Seq("documents" -> "doc_id", "embeddings" -> "vec_id",
        "events" -> "event_id")) {
      val n = load(base, name).count()
      val got = load(dir, name)
      assert(got.count() == m * n, name)
      assert(got.select(id).distinct().count() == m * n, s"$name.$id not unique")
    }
  }

  test("doc_id % 20 and % 10 are preserved per copy") {
    def keys(d: String) = load(d, "documents")
      .select((col("doc_id") / ScaleCurve.IdStride).cast("long").as("c"),
        pmod(col("doc_id"), lit(20)).as("k20"), pmod(col("doc_id"), lit(10)).as("k10"))
    val want = keys(base).drop("c")
    val got = keys(dir)
    for (c <- 0 until m)
      assert(QCommon.multisetEqual(got.filter(col("c") === c).drop("c"), want), s"copy $c")
  }

  test("no word of a copy appears in the base vocabulary; n_chars follows the text") {
    def words(df: org.apache.spark.sql.DataFrame) =
      df.select(explode(split(col("text"), " ")).as("w")).distinct()
    val docs = load(dir, "documents")
    val copies = docs.filter(col("doc_id") >= ScaleCurve.IdStride)
    assert(copies.count() == (m - 1) * load(base, "documents").count())
    assert(words(copies).join(words(load(base, "documents")), "w").isEmpty)
    assert(docs.filter(!(col("n_chars") <=> length(col("text")))).isEmpty)
  }

  test("linked TPC-H tables load the same rows as the base") {
    for (name <- Tables.all.filterNot(ScaleCurve.multiplied.contains)) {
      assert(java.nio.file.Files.isSymbolicLink(
        java.nio.file.Paths.get(dir, s"$name.parquet")), name)
      assert(QCommon.multisetEqual(load(dir, name), load(base, name)), name)
    }
  }

  test("q30 returns exactly m× its base row count on the fixture") {
    val q30 = SparkEntry.queries("q30_dedup_exact")
    val n = q30(spark, base).count()
    assert(n > 0)
    assert(q30(spark, dir).count() == m * n)
  }

  test("event copies keep per-user structure in disjoint users and times") {
    val ev = load(dir, "events").select(
      (col("event_id") / (10 * ScaleCurve.IdStride)).cast("long").as("c"),
      col("user_id"), col("ts"))
    val span = ev.groupBy("c").agg(min("ts").as("lo"), max("ts").as("hi"),
        min("user_id").as("ulo"), max("user_id").as("uhi"))
      .orderBy("c").as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Long)]
      .collect()
    assert(span.map(_._1).toSeq == (0L until m))
    span.sliding(2).foreach { case Array(a, b) =>
      assert(a._3.before(b._2) && a._5 < b._4, s"copies ${a._1}/${b._1} overlap")
    }
  }
}
