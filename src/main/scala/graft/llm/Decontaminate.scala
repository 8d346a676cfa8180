package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Benchmark decontamination for training corpora: flag training docs
  * whose word n-grams overlap an evaluation set's n-grams — the standard
  * "n-gram collision" check run before training so eval answers don't
  * leak into the training mix.
  *
  * Scale shape: the eval side (benchmark suites — thousands of docs) is
  * tiny next to the corpus, so its distinct-gram set is broadcast and
  * the corpus side stays a linear explode + broadcast-hash semi-join —
  * no shuffle of corpus text at all. Per-doc overlap counts are one
  * map-side-combined groupBy on doc id. If the eval side ever outgrows
  * broadcast, the same plan degrades gracefully to a shuffle equi-join
  * keyed on xxhash64(gram) — the gram strings themselves never need to
  * shuffle.
  *
  * GATE CALIBRATION (r13→r14 lesson): `n` controls discriminating
  * power, and short grams LOSE it as the eval set grows — on a
  * bounded-vocabulary corpus, 3-gram contamination saturated from
  * ~77% of docs at one eval-set size to 100% at 10× that size,
  * silently emptying a downstream filter-funnel. Use this report at
  * small `n` only as a DIAGNOSTIC (the ratio distribution is the
  * output); any pipeline that FILTERS on `contaminated` should use
  * n ≈ 8–13 token windows (the Lee-2021 dedup scale; survivor counts
  * then stay near-flat under 100× eval growth — measured curves in
  * PERF_NOTES r14) or derive `flagRatio` from the observed eval-gram
  * density rather than a fixed constant.
  */
object Decontaminate {

  /** Distinct word n-grams of a text column as xxhash64 keys over the
    * token slice, no gram STRING ever built; docs shorter than n tokens
    * contribute their whole text as a single gram (a short eval item is
    * still a verbatim leak when it appears wholesale). Join-with-space
    * is injective over space-free tokens, so set membership/overlap
    * counts over these keys equal the string-gram ones short of a 2⁻⁶⁴
    * collision. The broadcast eval
    * set becomes 8 bytes/gram and the corpus side skips two string
    * allocations per token position (measured 3× on q84). */
  def ngramKeys(text: Column, n: Int): Column =
    array_distinct(TextStats.wordGramKeys(text, n))

  /** Per-corpus-doc contamination report against `evalSet`:
    * (doc_id, n_grams, n_overlap, overlap_ratio, contaminated).
    * Every corpus doc appears (zero-overlap docs included) — the output
    * is a filterable mask, not just a flag list. */
  def report(corpus: DataFrame, evalSet: DataFrame, n: Int,
      flagRatio: Double, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val cg = corpus.select(col(idCol), ngramKeys(col(textCol), n).as("gs"))
    val eg = evalSet.select(explode(ngramKeys(col(textCol), n)).as("g")).distinct()
    val hits = cg.select(col(idCol), explode(col("gs")).as("g"))
      .join(broadcast(eg), "g")
      .groupBy(idCol).agg(count_distinct(col("g")).as("hit"))
    val nOverlap = coalesce(col("hit"), lit(0L))
    val ratio = nOverlap.cast(DoubleType) / size(col("gs")).cast(DoubleType)
    cg.join(hits, Seq(idCol), "left")
      .select(col(idCol), size(col("gs")).cast(LongType).as("n_grams"),
        nOverlap.as("n_overlap"),
        round(ratio, 6).as("overlap_ratio"),
        (ratio >= flagRatio).cast(IntegerType).as("contaminated"))
  }
}
