package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 scored retrieval (Robertson & Zaragoza 2009; the Lucene
  * practical form with the `ln(1 + …)` positive idf) — the ranked-
  * retrieval counterpart of [[Text.tfidf]]: score a small query
  * workload against the corpus and keep the top-k documents per query.
  * Training-data pipelines use exactly this shape for quality-by-
  * retrieval curation and for building seed sets (retrieve-then-filter
  * in the DSIR / SemDeDup lineage); the reference's closest surface is
  * TF-IDF + ORDER/LIMIT per group, which sorts every scored pair.
  *
  * Scale shape (the 100 TB contract):
  *   - only QUERY-TERM postings flow — `tf` is semi-joined against the
  *     broadcast query-term set before anything else, so the corpus
  *     text leaves the tokenize stage once and non-matching terms are
  *     never shuffled;
  *   - `df` and the corpus stats (N, avgdl) are term-count-bounded and
  *     1-row aggregates, attached as broadcasts (the q20 scalar
  *     pattern);
  *   - top-k per query is [[graft.ops.TopKAgg]] — partial/final with k
  *     rows per map task, `O(k·partitions)` on the wire, never a
  *     per-query global sort.
  *
  * Determinism (the oracle contract): every per-term contribution is
  * rounded to integer NANOS (`floor(x·1e9 + 0.5)` — the repo-standard
  * floor-round, absorbing last-ulp `ln` differences between engines)
  * and summed as exact longs, so the per-document score is independent
  * of partition order and bit-identical to the DuckDB re-derivation;
  * ranking ties break on (score_nano desc, doc asc) in both.
  */
object Retrieval {

  /** BM25 scores for every (query, matching document) pair.
    *
    * Precondition: `idCol` is unique — one row per document. Document
    * length is each row's token count and N counts rows, so a corpus
    * that splits a document over several rows sharing an id scores it
    * as several documents; merge such rows before calling. Not checked
    * (a check would cost a corpus-wide aggregation).
    *
    * The (doc,term,tf) frame is persisted ([[graft.dsl.Rel.track]])
    * because four plan branches read it: after materializing the
    * result, call `Rel.releaseTracked()` to free it (the repo-wide
    * harness convention — Verify and Bench already do).
    *
    * @param queries (qid int, term string) — one row per query term;
    *                must be small (it is broadcast).
    * @return (qid, doc, score_nano) — score in integer nanos.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           queries: DataFrame, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // document length computed NARROWLY at tokenize time (r22, guide
    // §2.3/§2.4): dl = the size of the non-empty token list, a per-row
    // projection on the scan — identical by construction to the old
    // sum(tf)-per-doc (both count the doc's non-empty terms). It rides
    // the (doc, term) aggregation as max(dl) (constant within a doc),
    // which removes BOTH corpus-scale doc-keyed exchanges the old shape
    // paid: the tf→groupBy(doc) re-shuffle that derived dl AND the
    // tf⋈dl shuffle join that re-attached it (tf, the largest frame in
    // the pipeline, was shuffled by doc for nothing). At 32 local
    // cores that join's tiny-partition stages were the worst scaling
    // pathology in the suite (BENCH_r21 scaling ratio 0.34).
    val terms = filter(split(col(textCol), " "), t => t =!= "")
    val toks = docs
      .select(col(idCol).as("doc"), terms.as("graft_terms"))
      .filter(size(col("graft_terms")) > 0)
      .select(col("doc"), size(col("graft_terms")).cast("long").as("dl"),
        explode(col("graft_terms")).as("term"))
    // tf feeds three plan branches (dfreq, stats via dl, the scoring
    // join): persist it so the one-tokenize-scan contract is
    // structural, not a bet on ReuseExchange unifying the subtrees
    // (released by the caller's Rel.releaseTracked(), the trainLogReg
    // discipline)
    val tf = graft.dsl.Rel.track(
      toks.groupBy(col("doc"), col("term"))
        .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // N and avgdl over tokenized docs (docs with ≥ 1 non-empty term —
    // the same set the old dl-from-tf derivation covered); one narrow
    // aggregation over the docs scan, no shuffle of anything
    // corpus-sized. Exact long inputs → the double division is
    // bit-identical across engines (sum of longs is order-free).
    val stats = docs
      .select(size(terms).cast("long").as("graft_dl"))
      .filter(col("graft_dl") > 0)
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("graft_dl")).cast("double") / count(lit(1))).as("avgdl"))
    val qterms = queries.select(col("qid"), col("term")).distinct()
    // document frequency of the query terms only
    val dfreq = tf.join(broadcast(qterms.select(col("term")).distinct()), Seq("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val contrib =
      log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
        ((col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
    tf.join(broadcast(qterms), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("doc"),
        floor(contrib * lit(1e9) + lit(0.5)).as("contrib_nano"))
      .groupBy(col("qid"), col("doc"))
      .agg(sum(col("contrib_nano")).as("score_nano"))
  }

  /** Top-k documents per query by BM25, rank attached:
    * (qid, rank, doc, score_nano), rank 1-based by
    * (score_nano desc, doc asc).
    *
    * Doc ids must be INTEGRAL (TopKAgg carries them as primitive
    * longs); [[bm25]] itself takes any id type — map string ids to a
    * surrogate long (e.g. xxhash64) before calling this form. The
    * require turns the encoder's opaque up-cast failure into a clear
    * error (r17 review). */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val idType = docs.schema(idCol).dataType
    require(Seq[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType, org.apache.spark.sql.types.ByteType)
        .contains(idType),
      s"bm25TopK requires integral doc ids (got $idType) — bm25 itself " +
        "accepts any type; map string ids to a surrogate long first")
    val scored = bm25(docs, idCol, textCol, queries, k1, b)
    val top = graft.ops.TopKAgg.topK(k)
    // score_nano < 2^53 for any real corpus, so the double carry is exact
    scored.groupBy(col("qid"))
      .agg(top(col("score_nano").cast("double"), col("doc")).as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("pos", "hit")))
      .select(col("qid"), (col("pos") + 1).as("rank"),
        col("hit._2").as("doc"), col("hit._1").cast("long").as("score_nano"))
  }
}
