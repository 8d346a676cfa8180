package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sliding-window document chunking — the context-window shaping step of
  * a training/RAG pipeline: long documents become overlapping token
  * windows (window W, stride S < W for overlap), each chunk small enough
  * to embed/pack while the overlap preserves cross-boundary context.
  * The reference pipelines ship documents whole; chunking is what a
  * 100 TB corpus needs before embedding (ANN operators in [[Ann]]/[[Pq]])
  * or sequence packing ([[SeqPack]]).
  *
  * Scale shape: pure per-row compute — tokenize once, explode the
  * window starts, slice the token array per chunk. No shuffle, no
  * state; codegen'd array ops inside the scan stage, so throughput is
  * scan-bound and the operator scales embarrassingly. Chunk identity is
  * an md5 of the chunk text (portable across engines), giving
  * downstream exact-dedup of chunks for free ([[TextDedup.contentKey]]
  * applies unchanged to chunk rows).
  */
object Chunker {

  /** Chunk `docs` into windows of `window` tokens every `stride` tokens.
    *
    * @param minTokens drop trailing fragments shorter than this (the
    *                  standard tail rule: a final sub-minimum window
    *                  carries mostly repeated context)
    * @return (doc_id, chunk_id, start_tok, n_tokens, chunk_hash) — one
    *         row per kept chunk; chunk_id numbers windows from 0 in
    *         stride steps
    */
  def chunk(docs: DataFrame, window: Int, stride: Int, minTokens: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(window > 0 && stride > 0 && minTokens >= 1,
      s"bad chunking params: window=$window stride=$stride minTokens=$minTokens")
    docs
      .select(col(idCol).as("doc_id"),
        split(col(textCol), "\\s+").as("toks"))
      .withColumn("n_toks", size(col("toks")))
      // one start per stride step while any token remains
      .withColumn("start_tok", explode(
        sequence(lit(0), greatest(col("n_toks") - 1, lit(0)), lit(stride))))
      .filter(col("start_tok") < col("n_toks"))
      .withColumn("chunk_toks",
        slice(col("toks"), col("start_tok") + 1, lit(window)))
      .withColumn("n_tokens", size(col("chunk_toks")))
      .filter(col("n_tokens") >= minTokens)
      .select(col("doc_id"),
        expr(s"start_tok div $stride").as("chunk_id"),
        col("start_tok"), col("n_tokens"),
        md5(array_join(col("chunk_toks"), " ")).as("chunk_hash"))
  }

  /** DuckDB replay of [[chunk]] over the `documents` table: identical
    * tokenizer (string_split_regex ↔ split, the q76-proven pair),
    * identical window starts/slices, identical md5 chunk identity. */
  def chunkSql(window: Int, stride: Int, minTokens: Int): String =
    s"""WITH tk AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS toks
       |  FROM documents),
       |st AS (
       |  SELECT doc_id, toks,
       |    unnest(generate_series(0, len(toks) - 1, $stride)) AS start_tok
       |  FROM tk),
       |ch AS (
       |  SELECT doc_id, start_tok // $stride AS chunk_id, start_tok,
       |    list_slice(toks, start_tok + 1, start_tok + $window) AS ctoks
       |  FROM st WHERE start_tok < len(toks))
       |SELECT doc_id, chunk_id, start_tok,
       |  len(ctoks) AS n_tokens,
       |  md5(array_to_string(ctoks, ' ')) AS chunk_hash
       |FROM ch WHERE len(ctoks) >= $minTokens""".stripMargin
}
