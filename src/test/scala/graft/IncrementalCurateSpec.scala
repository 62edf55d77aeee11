package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.llm.{Curate, Dedup, Text}

/** `Curate.incrementalCurate` carries the keeper's text through the
  * exact stage and (fp_a, fp_b) through the near stage's rep
  * aggregation. This spec pins it to the two-join formulation it
  * replaced, kept here as the reference: exactIncremental → join the
  * gated batch back for the survivors' text → lshIncremental[Indexed]
  * → join the exact stage back for (fp_a, fp_b).
  */
class IncrementalCurateSpec extends SparkSuite {
  import spark.implicits._

  /** The reference formulation (two join-backs, no carried columns). */
  private def reference(batch: DataFrame, idCol: String, textCol: String,
                        fpStore: DataFrame, sigStore: DataFrame,
                        threshold: Double, bandIndex: Option[DataFrame],
                        splitInvariant: Boolean): DataFrame = {
    val gated = batch.filter(Text.qualityScore(col(textCol)) >= 0.5)
      .select(col(idCol), col(textCol))
    val exactNew = Dedup.exactIncremental(gated, textCol, idCol, fpStore)
      .withColumnRenamed("id", "graft_ic_id")
    val survivors = gated
      .join(exactNew.select(col("graft_ic_id")), col(idCol) === col("graft_ic_id"))
      .drop("graft_ic_id")
    val admitted = bandIndex match {
      case Some(idx) => Dedup.lshIncrementalIndexed(survivors, idCol, textCol,
        sigStore, idx, threshold = threshold, splitInvariant = splitInvariant)
      case None => Dedup.lshIncremental(survivors, idCol, textCol, sigStore,
        threshold = threshold, splitInvariant = splitInvariant)
    }
    val out = admitted.join(exactNew, col("id") === col("graft_ic_id"))
    if (splitInvariant)
      out.select(col("id"), col("fp_a"), col("fp_b"), col("sig"), col("admitted"))
    else out.select(col("id"), col("fp_a"), col("fp_b"), col("sig"))
  }

  /** Seeded batches: fresh documents, exact copies and near-duplicates
    * (one word replaced) of earlier documents in the same batch and in
    * earlier batches (store hits), null text and gate-failing text. */
  private def batches(seed: Long): Seq[Seq[(Long, String)]] = {
    val rnd = new scala.util.Random(seed)
    def fresh() = Seq.fill(20 + rnd.nextInt(20))(s"w${rnd.nextInt(200)}").mkString(" ")
    def near(t: String) = {
      val ws = t.split(" ")
      ws(ws.length / 2) = s"edit${rnd.nextInt(1000)}"
      ws.mkString(" ")
    }
    var seen = Vector.empty[String]
    var nextId = 1L
    (0 until 3).map { b =>
      val rows = Vector.newBuilder[(Long, String)]
      def add(t: String): Unit = { rows += ((nextId, t)); nextId += 1 }
      val news = Vector.fill(12)(fresh())
      news.foreach(add)
      news.take(3).foreach(add)                 // within-batch exact copies
      news.slice(3, 6).map(near).foreach(add)   // within-batch near-dups
      if (seen.nonEmpty) {
        seen.take(4).foreach(add)               // exact store hits
        seen.slice(4, 8).map(near).foreach(add) // near store hits
      }
      add(null)
      add("spam spam spam spam")                // fails the quality gate
      seen ++= news
      rnd.shuffle(rows.result())
    }
  }

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map { case r: Row =>
      r.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case v => v
      }
    }.groupBy(identity).map { case (k, v) => k -> v.size }

  for (splitInv <- Seq(false, true); indexed <- Seq(false, true))
    test(s"incrementalCurate equals the two-join formulation " +
        s"(splitInvariant=$splitInv, bandIndex=${if (indexed) "Some" else "None"})") {
      val d0 = Seq.empty[(Long, String)].toDF("doc_id", "text")
      val (fp0, sig0, _) = Curate.emptyStores(d0, "doc_id", "text")
      var fp = fp0.localCheckpoint()
      var sig = sig0.localCheckpoint()
      var admittedTexts = Set.empty[String]
      try batches(seed = 17L).zipWithIndex.foreach { case (rows, b) =>
        val batch = rows.toDF("doc_id", "text")
        val idx = if (indexed) Some(Dedup.lshBandIndex(sig).localCheckpoint()) else None
        val got = Curate.incrementalCurate(batch, "doc_id", "text", fp, sig,
            threshold = 0.7, bandIndex = idx, splitInvariant = splitInv)
          .localCheckpoint()
        val want = reference(batch, "doc_id", "text", fp, sig, 0.7, idx, splitInv)
        val (g, w) = (multiset(got), multiset(want))
        assert(g == w, s"batch $b: got ${g.size} distinct rows, reference ${w.size}")
        assert(g.values.forall(_ == 1), s"batch $b: duplicate result rows")
        // the null-text and gate-failing docs never come back
        val ids = got.select("id").as[Long].collect().toSet
        val gatedOut = rows.collect { case (id, t) if t == null || t.startsWith("spam") => id }
        assert(gatedOut.size == 2 && !gatedOut.exists(ids))
        // store hits: no text admitted in an earlier batch is admitted again
        val adm = if (splitInv) got.filter($"admitted") else got
        val text = rows.toMap
        val admTexts = adm.select("id").as[Long].collect().map(text).toSet
        assert(admTexts.nonEmpty && (admTexts & admittedTexts).isEmpty,
          s"batch $b re-admitted a stored text")
        admittedTexts ++= admTexts
        fp = fp.unionByName(adm.select($"fp_a", $"fp_b")).localCheckpoint()
        sig = sig.unionByName(got.select($"id", $"sig")).localCheckpoint()
      } finally graft.dsl.Rel.releaseTracked(blocking = true)
    }

  test("exactIncremental carry: the keeper's own column value rides the aggregation") {
    val batch = Seq((5L, "a b c", "x5"), (2L, "a b c", "x2"), (9L, "d e f", "x9"))
      .toDF("doc_id", "text", "tag")
    val empty = Seq.empty[(Long, Long)].toDF("fp_a", "fp_b")
    val got = Dedup.exactIncremental(batch, "text", "doc_id", empty,
        carry = Seq("text", "tag"))
      .select("id", "text", "tag").as[(Long, String, String)].collect().toSet
    assert(got == Set((2L, "a b c", "x2"), (9L, "d e f", "x9")))
  }
}
