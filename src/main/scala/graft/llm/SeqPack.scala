package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing: assign documents to fixed-token-budget training
  * sequences ("bins") — the step that turns a filtered corpus into
  * dense, fixed-length examples for the trainer.
  *
  * The packing is CONTIGUOUS-GREEDY WITHIN SHARDS: docs are laid out in
  * id order per shard, each doc's bin is its prefix-token-offset divided
  * by the budget. That makes the operator deterministic (no RNG, no
  * arrival order), one window shuffle, and scalable — the running sum is
  * per-shard, so there is no global single-partition sort; shard count
  * is the parallelism knob, and each shard's packing is independent
  * exactly like the shard files a trainer reads.
  */
object SeqPack {

  /** Deterministic md5-derived shard id (engine-portable, same scheme as
    * the q88 shard export). */
  def shardOf(id: Column, nShards: Int): Column = {
    val h = md5(id.cast("string"))
    ((ascii(substring(h, 1, 1)) * 31 + ascii(substring(h, 2, 1))) % nShards).cast("int")
  }

  /** [[shardOf]] of `doc_id` in DuckDB SQL, the oracle side; the bare
    * arithmetic, without the INTEGER cast. */
  def shardIdSql(nShards: Int): String =
    "(ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 31 " +
      s"+ ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % $nShards"

  /** [[shardOf]] of `doc_id` in DuckDB SQL, cast to INTEGER like the
    * engine side. */
  def shardOfSql(nShards: Int): String = s"CAST(${shardIdSql(nShards)} AS INTEGER)"

  /** Per-doc packing assignment: (input columns) + shard, n_tok, offset
    * (prefix token sum within the shard, in doc_id order), bin
    * (offset / seqLen). Docs may straddle bin boundaries — fill stays
    * dense and only each shard's last bin is partial, matching how
    * packed pretraining datasets are laid out. */
  def pack(docs: DataFrame, tokens: Column, seqLen: Int, nShards: Int): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("shard", shardOf(col("doc_id"), nShards))
      .withColumn("n_tok", tokens.cast("long"))
      .withColumn("offset", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("bin", floor(col("offset") / seqLen))
  }
}
