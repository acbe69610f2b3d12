package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Hybrid retrieval: reciprocal-rank fusion (RRF) of independently
  * ranked result lists — the published method for combining lexical
  * (BM25) and vector (ANN) retrieval without score calibration
  * (Cormack, Clarke, Buettcher 2009: rrf(d) = Σ_lists 1/(k0+rank_d)).
  * Rank-based, so it is immune to the incomparable score scales of the
  * fused systems — the property that makes it the standard RAG
  * first-stage fusion.
  *
  * Exactness contract: each list's contribution is the INTEGER
  * quotient `scaleQ / (k0 + rank)` (rank is a small positive int, so
  * the quotient is exact long arithmetic — no floating point anywhere),
  * and the fused score is the exact integer sum. Ties break on id
  * ascending. Deterministic on any partitioning, replayable in ANSI
  * SQL verbatim.
  *
  * Scale design (100 TB corpus, bounded query batch): the inputs are
  * already per-query top-k lists — at most `lists × kEach` rows per
  * query — so the fuse is one small keyed aggregate plus a per-query
  * window over ≤ lists×kEach rows. The heavy lifting (index probe, ANN
  * scan) happened upstream in the fused retrievers; fusion itself
  * never touches the corpus.
  */
object Hybrid {

  /** Quantization scale for the reciprocal-rank quotient. 1e12 keeps
    * 7+ significant digits at rank 6060 (k0=60, rank 6000) — far past
    * any real top-k depth — while the sum of even 64 lists stays far
    * inside Long range.
    */
  val scaleQ: Long = 1000000000000L

  /** One list's exact integer RRF contribution for a 1-based rank —
    * the `div` INTEGRAL divide (never the double `/`), so the quotient
    * is exact long arithmetic with no float in the contract.
    */
  def rrfContrib(rank: Column, k0: Int): Column =
    call_function("div", lit(scaleQ),
      lit(k0.toLong) + rank.cast(LongType)).cast(LongType)

  /** Fuse ranked lists into `(query_id, id, rrf_q, rank)`, top `topK`
    * rows per query by fused score. Every input must carry
    * `(queryCol, idCol, rankCol)` with `rankCol` 1-based per query;
    * a document absent from a list simply contributes nothing (the
    * standard RRF convention).
    */
  def rrfFuse(lists: Seq[DataFrame], queryCol: String, idCol: String,
      rankCol: String, k0: Int = 60, topK: Int = 10): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(k0 >= 1 && topK >= 1, s"k0 $k0 / topK $topK must be >= 1")
    val contribs = lists.map(df =>
      df.select(col(queryCol).as("query_id"), col(idCol).as("id"),
        rrfContrib(col(rankCol), k0).as("c")))
    val scored = contribs.reduce(_ unionByName _)
      .groupBy("query_id", "id")
      .agg(sum(col("c")).cast(LongType).as("rrf_q"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("rrf_q"), col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("query_id", "id", "rrf_q", "rank")
  }

  /** Hybrid text+vector search over one corpus: BM25 top-`kEach` from
    * the text side fused with exact-cosine top-`kEach` from the vector
    * side. `corpusText(idCol, textCol)` and `corpusVec(vecIdCol,
    * vecCol)` identify the same documents; `queries` carries both a
    * text and a vector per query id (the RAG serving shape: the user
    * query string plus its embedding).
    *
    * Plan shape: the BM25 leg is the declarative one-plan search
    * (stats as a broadcast one-row cross join, postings never
    * shuffle); the ANN leg broadcasts the bounded query batch and
    * heap-scans the corpus once; fusion is the bounded keyed agg
    * above. For an indexed corpus, fuse [[Search.searchFromIndex]] /
    * [[Similarity.ivfTopKFromIndex]] output through [[rrfFuse]]
    * directly — this convenience wires the index-free legs.
    */
  def hybridSearch(corpusText: DataFrame, idCol: String, textCol: String,
      corpusVec: DataFrame, vecIdCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qTextCol: String,
      qVecCol: String, kEach: Int = 20, k0: Int = 60,
      topK: Int = 10): DataFrame = {
    val bm = Search.searchCorpus(corpusText, idCol, textCol,
      queries.select(col(qIdCol), col(qTextCol)), qIdCol, qTextCol, kEach)
      .select(col("query_id"), col("doc_id").as("id"), col("rank"))
    val ann = Similarity.bruteForceTopK(corpusVec, vecIdCol, vecCol,
      queries.select(col(qIdCol), col(qVecCol)), qIdCol, qVecCol, kEach)
      .select(col("query_id"), col("id"), col("rank"))
    rrfFuse(Seq(bm, ann), "query_id", "id", "rank", k0, topK)
  }

  /** [[hybridSearch]] of one query batch against fixed corpora: the
    * BM25 leg probes the persisted index `ix` ([[Search.readIndex]]),
    * the ANN leg is exact cosine over `vecs(vecIdCol, vecCol)`. Each
    * query's fused list depends on that query and the two corpora alone,
    * so a stream of query batches
    * ([[graft.streaming.StreamOps.probeStream]]) accumulates to the
    * one-shot fusion over the same query set under any micro-batch
    * placement.
    */
  def hybridSearchFromLoaded(ix: Search.Bm25Index, vecs: DataFrame,
      vecIdCol: String, vecCol: String, queries: DataFrame,
      qIdCol: String, qTextCol: String, qVecCol: String, kEach: Int,
      k0: Int = 60, topK: Int = 10): DataFrame = {
    val bm = Search.search(ix, queries, qIdCol, qTextCol, kEach)
      .select(col("query_id"), col("doc_id").as("id"), col("rank"))
    val ann = Similarity.bruteForceTopK(vecs, vecIdCol, vecCol,
        queries.select(col(qIdCol), col(qVecCol)), qIdCol, qVecCol, kEach)
      .select(col("query_id"), col("id"), col("rank"))
    rrfFuse(Seq(bm, ann), "query_id", "id", "rank", k0, topK)
  }
}
