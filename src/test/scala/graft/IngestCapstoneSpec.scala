package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BooleanType
import graft.llm.Text
import graft.queries.LlmQueries

/** The four ingest capstones (q128–q131) end to end on the sf0.001
  * corpus: every invariant boolean of the row holds, the counts equal
  * their direct derivation from the documents table, and each loop ran
  * its three rounds.
  */
class IngestCapstoneSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  for (q <- Seq("q128_ingest_loop", "q129_ingest_loop_tables",
      "q130_split_invariant_ingest", "q131_streaming_ingest_replay"))
    test(s"$q: every invariant holds, counts equal their direct count") {
      val docs = Tables.load(spark, dir, "documents")
      try {
        val df = LlmQueries.queries(q)(spark, dir)
        val rows = df.collect()
        assert(rows.length == 1, s"$q returned ${rows.length} rows")
        val row = rows.head
        df.schema.fields.filter(_.dataType == BooleanType).foreach { f =>
          assert(row.getAs[Boolean](f.name), s"$q: invariant '${f.name}' is false")
        }
        if (q.startsWith("q130")) {
          // the bounded sub-corpus plus the three planted chain docs
          assert(row.getAs[Long]("n_docs") ==
            docs.filter(col("doc_id") < 1500).count() + 3L)
        } else {
          assert(row.getAs[Long]("n_docs") == docs.count())
          assert(row.getAs[Long]("n_quality_pass") ==
            docs.filter(Text.qualityScore(col("text")) >= 0.5).count())
          val rounds = if (q.startsWith("q131")) "n_batches" else "n_rounds"
          assert(row.getAs[Int](rounds) == 3)
        }
      } finally {
        spark.catalog.clearCache()
        graft.dsl.Rel.releaseTracked()
      }
    }
}
