package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Token-window document chunking — the retrieval-corpus prep step
  * (RAG / embedding-index ingestion): split every document into
  * fixed-size token chunks with a configurable overlap so no retrieval
  * context straddles an invisible boundary.
  *
  * Chunk rule: with `size` tokens per chunk and `overlap` shared
  * between neighbours, chunk `i` covers tokens
  * `[i*(size-overlap), i*(size-overlap)+size)`; the last chunk is the
  * first one whose window reaches the end of the document (it may be
  * shorter than `size`, never empty). A document with fewer than `size`
  * tokens yields exactly one chunk; blank/NULL text yields none (the
  * suite-wide zero-token rule — [[SpanDedup]]'s `toks` discipline, so
  * the chunker and the span deduper agree about what a token is).
  *
  * Scale design: pure codegen'd Column arithmetic — `split` →
  * `sequence` over the chunk count → `transform`/`posexplode` into one
  * row per chunk. MAP-ONLY at any scale: no shuffle, no window, no
  * state; output partitioning inherits the input's, so a downstream
  * embedding pass or ANN index build sees the same layout. Because it
  * is stateless per row, [[chunkDocuments]] applies UNCHANGED to a
  * micro-batch stream frame, and StreamOpsSpec pins stream-vs-batch
  * parity.
  */
object Chunking {

  /** Token array under the suite-wide counting rule (blank → zero). */
  private def toks(textCol: Column): Column = {
    val t = trim(coalesce(textCol, lit("")))
    when(length(t) === 0, array().cast("array<string>"))
      .otherwise(split(t, " "))
  }

  /** One row per chunk: `(doc_id, chunk_id, start_tok, n_tok, chunk)`.
    * `chunk_id` is 0-based and dense per document; `start_tok` is the
    * 0-based token offset of the chunk start; `chunk` is the
    * space-rejoined token window.
    */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      size: Int, overlap: Int = 0): DataFrame = {
    require(size >= 1, s"chunk size $size must be >= 1")
    require(overlap >= 0 && overlap < size,
      s"overlap $overlap must be in [0, size)")
    val stride = size - overlap
    val t = toks(col(textCol))
    val n = org.apache.spark.sql.functions.size(t)
    // ceil((n - size) / stride) + 1 for n > size, else 1 (n > 0)
    val nChunks = when(n <= size, lit(1))
      .otherwise(floor((n - size + stride - 1) / lit(stride))
        .cast("int") + 1)
    docs
      .filter(n > 0)
      .select(col(idCol).as("doc_id"), t.as("_t"), nChunks.as("_nc"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("_nc") - 1),
          i => struct(
            (i * stride).as("start_tok"),
            slice(col("_t"), i * stride + 1, lit(size)).as("_win")))))
      .select(col("doc_id"), col("pos").as("chunk_id"),
        col("col._win").as("_win"), col("col.start_tok").as("start_tok"))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        org.apache.spark.sql.functions.size(col("_win")).as("n_tok"),
        array_join(col("_win"), " ").as("chunk"))
  }

  /** [[chunkDocuments]] over REAL BPE tokens: the window slides over the
    * model's token stream (so `size`/`overlap` mean what an embedding
    * model's context limit means), and `chunk` is the DECODED window
    * (pieces concatenated, marker → space) — the exact text a retrieval
    * index should embed. Same map-only shape: the encode is one
    * codegen'd kernel call per row, the window arithmetic identical.
    */
  def chunkDocumentsBpe(docs: DataFrame, idCol: String, textCol: String,
      model: BpeModel, size: Int, overlap: Int = 0): DataFrame = {
    // decoded chunk text below is pure Column arithmetic (join+replace);
    // a byte-level model's pieces need the kernel's byte unmapping too
    require(!model.byteLevel,
      "chunkDocumentsBpe decodes chunk text with Column ops; use a " +
        "char-level model (byte-level windows need BpeKernel.decodePieces)")
    chunkOverPieces(docs, idCol,
      graft.functions.BpeExpressions.bpePiecesC(
        coalesce(col(textCol), lit("")), model),
      model.marker, size, overlap)
  }

  /** [[chunkDocumentsBpe]] over a UNIGRAM-LM model's Viterbi pieces —
    * the SentencePiece-family sibling; same window rule, same decoded
    * chunk text (pieces concatenated, marker → space).
    */
  def chunkDocumentsUnigram(docs: DataFrame, idCol: String,
      textCol: String, model: UnigramModel, size: Int,
      overlap: Int = 0): DataFrame =
    chunkOverPieces(docs, idCol,
      graft.functions.UnigramExpressions.unigramPiecesC(
        coalesce(col(textCol), lit("")), model),
      model.marker, size, overlap)

  /** The shared token-window body: slide `size`/`overlap` over a piece
    * array and decode each window with Column ops.
    */
  private def chunkOverPieces(docs: DataFrame, idCol: String,
      t: Column, marker: String, size: Int, overlap: Int): DataFrame = {
    require(size >= 1, s"chunk size $size must be >= 1")
    require(overlap >= 0 && overlap < size,
      s"overlap $overlap must be in [0, size)")
    val stride = size - overlap
    val n = org.apache.spark.sql.functions.size(t)
    val nChunks = when(n <= size, lit(1))
      .otherwise(floor((n - size + stride - 1) / lit(stride))
        .cast("int") + 1)
    docs
      .filter(n > 0)
      .select(col(idCol).as("doc_id"), t.as("_t"), nChunks.as("_nc"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("_nc") - 1),
          i => struct(
            (i * stride).as("start_tok"),
            slice(col("_t"), i * stride + 1, lit(size)).as("_win")))))
      .select(col("doc_id"), col("pos").as("chunk_id"),
        col("col._win").as("_win"), col("col.start_tok").as("start_tok"))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        org.apache.spark.sql.functions.size(col("_win")).as("n_tok"),
        trim(replace(array_join(col("_win"), ""),
          lit(marker), lit(" "))).as("chunk"))
  }

  /** Sentence-BOUNDARY chunking — the retrieval-prep variant that never
    * cuts mid-sentence: windows of `size` sentences with `overlap`
    * shared between neighbours, same window rule as [[chunkDocuments]]
    * but the unit is a sentence instead of a token.
    *
    * Sentence rule (deterministic and engine-portable): a sentence ends
    * at `.`, `!` or `?` followed by one-or-more spaces. The split is
    * LOOKBEHIND-FREE (RE2 has no lookbehind, Java does — the suite's
    * Java∩RE2 discipline): mark each boundary by rewriting
    * `([.!?]) +` to the terminator plus a U+0001 separator, then
    * split on the separator — the terminator stays attached to its
    * sentence, inter-sentence whitespace collapses. Text with no
    * terminator is one sentence; blank/NULL text yields no chunks.
    *
    * Same map-only scale shape as [[chunkDocuments]]: codegen'd
    * replace/split → `sequence`/`transform`/`posexplode`, no shuffle,
    * no state — and therefore runs unchanged on a micro-batch stream.
    */
  def chunkBySentences(docs: DataFrame, idCol: String, textCol: String,
      size: Int, overlap: Int = 0): DataFrame = {
    require(size >= 1, s"chunk size $size must be >= 1")
    require(overlap >= 0 && overlap < size,
      s"overlap $overlap must be in [0, size)")
    val stride = size - overlap
    val t0 = trim(coalesce(col(textCol), lit("")))
    val SEP = "\u0001"
    val sents = when(length(t0) === 0, array().cast("array<string>"))
      .otherwise(split(
        regexp_replace(t0, "([.!?]) +", "$1" + SEP), java.util.regex.Pattern.quote(SEP)))
    val n = org.apache.spark.sql.functions.size(sents)
    val nChunks = when(n <= size, lit(1))
      .otherwise(floor((n - size + stride - 1) / lit(stride))
        .cast("int") + 1)
    docs
      .filter(n > 0)
      .select(col(idCol).as("doc_id"), sents.as("_s"), nChunks.as("_nc"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("_nc") - 1),
          i => struct(
            (i * stride).as("start_sent"),
            slice(col("_s"), i * stride + 1, lit(size)).as("_win")))))
      .select(col("doc_id"), col("pos").as("chunk_id"),
        col("col._win").as("_win"), col("col.start_sent").as("start_sent"))
      .select(col("doc_id"), col("chunk_id"), col("start_sent"),
        org.apache.spark.sql.functions.size(col("_win")).as("n_sent"),
        array_join(col("_win"), " ").as("chunk"))
  }
}
