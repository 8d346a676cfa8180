package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** fastText-style hashed linear classifier INFERENCE (Joulin et al.
  * 2016, "Bag of Tricks for Efficient Text Classification"): tokens
  * hash into `buckets` feature slots, each (bucket, class) weight is
  * an integer, a document's class scores are the sums of its tokens'
  * weights, prediction is first-max argmax. This is the corpus-scale
  * quality/domain-classifier step of an LLM data pipeline (e.g. the
  * CCNet/FineWeb "model-based filtering" stage) re-expressed as pure
  * relational arithmetic.
  *
  * The weight table is CLOSED-FORM — w_c(bkt) = mix(bkt, seed_c) in
  * [-1000, 1000] via the portable 60-bit integer mix — so inference
  * needs NO weight join, NO broadcast, and no shuffle at all: each
  * document folds over its own token array with `aggregate`. That is
  * the 100 TB shape: embarrassingly parallel, linear in corpus bytes,
  * zero exchanges. (A learned model would broadcast a B×C int array
  * and index it inside the same fold — identical plan shape; the
  * closed-form weights exist so the DuckDB oracle can replay every
  * score bit-for-bit.)
  *
  * Reference behavior anchor: jobs/broken-site-report-ml classifies
  * report text before aggregation (translate→classify batch loop);
  * here the per-row classifier is expressed engine-side instead.
  */
object LinearClassifier {

  /** Weight range half-width: weights lie in [-HALF, HALF]. */
  val HALF = 1000L
  private val RANGE = 2 * HALF + 1 // 2001

  /** Per-class 60-bit seeds (splitmix of the class index — same
    * generator as the MinHash seed family). */
  def seeds(classes: Int): IndexedSeq[Long] = TextDedup.portableSeeds(classes)

  /** Integer weight of one bucket under one class seed, as a Column
    * expression over a non-negative bucket id. */
  private def weight(bucket: Column, seed: Long): Column =
    pmod(TextDedup.portableMix(bucket, seed), lit(RANGE)) - lit(HALF)

  /** Score + classify every document: (idCol, n_tokens, s0..s{C-1},
    * pred). One md5 per token, then all-integer sums.
    * Ties break to the LOWEST class index (first-max).
    *
    * Shape (r16): explode tokens → codegen'd per-row bucket hash + C
    * weight expressions → one map-side-combined groupBy(doc). The
    * previous per-document `aggregate(...)` HOF folds computed the same
    * integer sums with ZERO exchanges, but higher-order functions are
    * CodegenFallback — every (token, class) fold step walked a ~15-node
    * expression tree interpreted, which dominated the query (measured
    * 4.2 s → 1.1 s at sf0.1 for identical results). The groupBy
    * partial-aggregates to one row per doc per task before the
    * exchange, so the shuffle carries |docs| rows of C+2 longs — the
    * hashing/scoring CPU now runs inside whole-stage codegen, which is
    * also the right trade at 100 TB (the fold was interpreted there
    * too; the per-doc row shuffle is noise next to the text scan).
    * explode_outer keeps zero-token documents (they score 0 for every
    * class and predict class 0, exactly as the empty fold did for
    * empty-ARRAY docs; a NULL text differs — the old fold published
    * n_tokens=-1 with null scores via size(null), this shape publishes
    * n_tokens=0 and zero scores. The generator never emits null text
    * and the oracle encodes the new rule; noted per ADVICE r16). */
  def classify(docs: DataFrame, idCol: String, textCol: String,
      classes: Int, buckets: Int): DataFrame = {
    val ss = seeds(classes)
    val exploded = docs
      .select(col(idCol), explode_outer(Surprisal.tokens(col(textCol))).as("tok"))
      .select(col(idCol),
        pmod(TextDedup.portableHash(col("tok")), lit(buckets.toLong)).as("b"))
    val scored = exploded
      .groupBy(col(idCol))
      .agg(count(col("b")).as("n_tokens"),
        (0 until classes).map { c =>
          coalesce(sum(weight(col("b"), ss(c))), lit(0L)).as(s"s$c")
        }: _*)
    // first-max argmax: class c wins iff it is >= every later class and
    // no earlier class already won (the CASE falls through in order)
    val pred = (0 until classes - 1).foldRight(
        lit((classes - 1).toLong): Column) { (c, rest) =>
      val geAllLater = (c + 1 until classes)
        .map(j => col(s"s$c") >= col(s"s$j")).reduce(_ && _)
      when(geAllLater, lit(c.toLong)).otherwise(rest)
    }
    scored.withColumn("pred", pred)
  }

  /** DuckDB replay of [[classify]] over the `documents` table —
    * generated from the same seeds/constants so the two engines cannot
    * drift. */
  def oracleSql(idCol: String, textCol: String, classes: Int,
      buckets: Int): String = {
    val ss = seeds(classes)
    def weightSql(c: Int): String = {
      val mix = TextDedup.portableMixSql("b", ss(c).toString)
      s"(($mix) % $RANGE - $HALF)"
    }
    val scoreCols = (0 until classes).map { c =>
      s"COALESCE(CAST(list_sum(list_transform(bkts, b -> ${weightSql(c)})) " +
        s"AS BIGINT), 0) AS s$c"
    }
    val predCase = (0 until classes - 1).map { c =>
      val geAllLater = (c + 1 until classes)
        .map(j => s"s$c >= s$j").mkString(" AND ")
      s"WHEN $geAllLater THEN $c"
    }.mkString(" ")
    s"""WITH base AS (
       |  SELECT $idCol,
       |    list_transform(
       |      list_filter(string_split_regex(lower($textCol), '[^a-z0-9]+'),
       |        x -> x <> ''),
       |      t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % $buckets)
       |      AS bkts
       |  FROM documents),
       |scored AS (
       |  SELECT $idCol, CAST(len(bkts) AS BIGINT) AS n_tokens,
       |    ${scoreCols.mkString(",\n    ")}
       |  FROM base)
       |SELECT *, CAST(CASE $predCase ELSE ${classes - 1} END AS BIGINT) AS pred
       |FROM scored ORDER BY $idCol""".stripMargin
  }
}
