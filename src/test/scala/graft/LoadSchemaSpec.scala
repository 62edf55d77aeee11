package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.commons.io.FileUtils
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import graft.piglatin.PigEngine

/** A LOAD infers its schema once per file listing (the cache in
  * [[graft.sources.Loaders]]) and resolves once per script. The
  * staleness specs fail against a cache keyed on the path alone. */
class LoadSchemaSpec extends SparkSuite {
  import spark.implicits._

  private val root = Files.createTempDirectory("graft_load_schema").toFile
  override def afterAll(): Unit = FileUtils.deleteDirectory(root)

  private def freshDir(): String =
    Files.createTempDirectory(root.toPath, "t").toString

  private def engine(dir: String) = new PigEngine(spark, Some(dir))

  /** `body`'s result and the number of jobs it launched. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try { val r = body; ListenerBusDrain(sc); (r, n.get) }
    finally sc.removeSparkListener(l)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("DESCRIBE of a LOAD infers on the first run and launches no job on the second") {
    val dir = freshDir()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/p")
    val script = "a = LOAD 'p'; DESCRIBE a;"
    val (_, first) = jobsOf(engine(dir).run(script))
    val (_, second) = jobsOf(engine(dir).run(script))
    assert((first, second) == (1, 0))
  }

  test("PigStorage and JsonLoader without a schema infer once per path and options") {
    val dir = freshDir()
    val df = Seq((1, "x", 2.5), (2, "y", 3.5)).toDF("k", "s", "d")
    df.write.option("sep", "|").csv(s"$dir/csv")
    df.write.json(s"$dir/json")
    for (load <- Seq("LOAD 'csv' USING PigStorage('|')", "LOAD 'json' USING JsonLoader()")) {
      val script = s"a = $load; DESCRIBE a;"
      val (e1, first) = jobsOf(engine(dir).run(script))
      val (e2, second) = jobsOf(engine(dir).run(script))
      assert(first > 0 && second == 0, load)
      assert(e2.relation("a").schema == e1.relation("a").schema, load)
      assert(e2.relation("a").columns.length == 3, load)
      assert(rows(e2.relation("a")) == rows(e1.relation("a")), load)
    }
    // the separator is part of the key: ',' splits nothing in these lines
    val comma = engine(dir).run("a = LOAD 'csv' USING PigStorage(',');").relation("a")
    assert(comma.columns.length == 1)
    assert(rows(comma) == Seq("[1|x|2.5]", "[2|y|3.5]"))
  }

  test("one LOAD under two FILTERs, joined and unioned, returns what two LOADs do") {
    val dir = freshDir()
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v")
      .write.parquet(s"$dir/p")
    val body = " j = JOIN f1 BY k, f2 BY k; u = UNION f1, f2;"
    val one = engine(dir).run(
      "a = LOAD 'p'; f1 = FILTER a BY k < 4; f2 = FILTER a BY k > 1;" + body)
    val two = engine(dir).run(
      "a = LOAD 'p'; b = LOAD 'p'; f1 = FILTER a BY k < 4; f2 = FILTER b BY k > 1;" + body)
    assert(one.relation("a") eq one.relation("a"))
    for (alias <- Seq("j", "u")) {
      assert(one.relation(alias).columns.toSeq == two.relation(alias).columns.toSeq)
      assert(rows(one.relation(alias)) == rows(two.relation(alias)), alias)
    }
    assert(rows(one.relation("j")) == Seq("[2,b,2,b]", "[3,c,3,c]"))
    assert(rows(one.relation("u")).length == 6)
  }

  test("a STORE into a loaded path shows on the next LOAD, with one engine or two") {
    for (engines <- Seq(1, 2)) {
      val dir = freshDir()
      Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/x")
      Seq((2L, 3.0, true)).toDF("id", "w", "flag").write.parquet(s"$dir/y")
      val e1 = engine(dir).run("x = LOAD 'x'; STORE x INTO 'p'; a = LOAD 'p';")
      assert(e1.relation("a").columns.toSeq == Seq("k", "v"))
      val e2 = if (engines == 1) e1 else engine(dir)
      e2.run("y = LOAD 'y'; STORE y INTO 'p'; b = LOAD 'p';")
      assert(e2.relation("b").columns.toSeq == Seq("id", "w", "flag"), s"$engines engine(s)")
      assert(rows(e2.relation("b")) == Seq("[2,3.0,true]"))
    }
  }

  test("changing a parquet inference setting in the session re-infers") {
    val dir = freshDir()
    Seq((1L, "a")).toDF("k", "a").write.parquet(s"$dir/p")
    Seq((2L, "b")).toDF("k", "b").write.mode("append").parquet(s"$dir/p")
    def columns() = engine(dir).run("a = LOAD 'p';").relation("a").columns.toSet
    val one = columns()
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    val merged = try columns() finally spark.conf.unset(key)
    assert(one.size == 2 && merged == Set("k", "a", "b") && columns() == one)
  }

  test("a partitioned parquet directory loads the same on a hit as on a miss") {
    val dir = freshDir()
    Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 10)).toDF("k", "v", "part")
      .write.partitionBy("part").parquet(s"$dir/p")
    def load() = jobsOf(engine(dir).run("a = LOAD 'p';").relation("a"))
    val (miss, missJobs) = load()
    val (hit, hitJobs) = load()
    assert(missJobs > 0 && hitJobs == 0)
    assert(hit.schema == miss.schema)
    assert(hit.columns.toSeq == Seq("k", "v", "part"))
    assert(rows(hit) == rows(miss))
    assert(rows(hit) == Seq("[1,a,10]", "[2,b,20]", "[3,c,10]"))
  }
}
