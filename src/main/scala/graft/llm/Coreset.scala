package graft.llm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Hold

/** Farthest-point sampling (Gonzalez' greedy 2-approximation for
  * k-center) over an embedding column — the diversity-selection
  * primitive behind coreset construction, annotation-budget allocation
  * and seed picking for balanced clustering: choose k vectors so that
  * every vector is close to some chosen one, by repeatedly taking the
  * point FARTHEST from everything chosen so far.
  *
  * Exactness: vectors snap to the KMeans integer grid
  * (code_i = round(x_i·1000), the q119/q123 portability idiom), so all
  * distances are exact BIGINT L2² and every argmax is unambiguous
  * (ties → lower vec_id). The first pick is the minimum vec_id —
  * deterministic, no RNG to ship. An external engine replays the whole
  * selection bit-for-bit (the q301 oracle unrolls it CTE-per-pick).
  *
  * Scale shape: the running state is one (vec_id, codes, minD2) row
  * per vector, NEVER a pairwise frame. Each of the k-1 rounds is one
  * distributed pass: update minD2 against the single newly-chosen
  * center (a broadcast-closure constant, like KMeans' centroid array)
  * and take the global top-1 by (minD2 desc, vec_id) —
  * TakeOrderedAndProject, no global sort. The k collected rows are
  * bounded by construction (k·dim longs — the Ann.pin/KMeans-centroid
  * convention for driver-side constants). EAGER: runs k jobs at call
  * time over the held codes frame.
  */
object Coreset {

  /** @return (pick, vec_id, radius2): the selection order, the chosen
    *         vector, and its distance-to-chosen-set at selection time —
    *         the k-center coverage-radius curve (radius2 of pick 1 is 0
    *         by convention; the curve is non-increasing from pick 2).
    *         At most min(k, n) rows: k past the vector count would only
    *         re-pick duplicates. Throws on an empty embeddings frame.
    */
  def farthestPoints(spark: SparkSession, embeddings: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val codes = Hold(KMeans.gridCodes(embeddings))
    // one pass over the held codes: fail loudly on an empty frame
    // (the first-pick collect would otherwise throw an opaque
    // ArrayIndexOutOfBounds) and cap k at the vector count — past n
    // every remaining minD2 is 0 and the argmax would re-pick the
    // min-id vector forever, silently duplicating picks
    val n = codes.count()
    require(n > 0, "farthestPoints: embeddings frame is empty")
    val kCap = math.min(k.toLong, n).toInt
    def d2To(center: IndexedSeq[Long]) =
      aggregate(
        zip_with(col("codes"), typedLit(center), (x, v) => (x - v) * (x - v)),
        lit(0L), (acc, d) => acc + d)
    val first = codes.orderBy("vec_id").limit(1).collect()(0)
    def codesOf(r: Row): IndexedSeq[Long] =
      r.getSeq[Long](r.fieldIndex("codes")).toIndexedSeq
    val picks = scala.collection.mutable.ArrayBuffer(
      (1, first.getLong(first.fieldIndex("vec_id")), 0L))
    var state = codes.withColumn("m", d2To(codesOf(first)))
    for (i <- 2 to kCap) {
      val next = state.orderBy(col("m").desc, col("vec_id")).limit(1)
        .collect()(0)
      picks += ((i, next.getLong(next.fieldIndex("vec_id")),
        next.getLong(next.fieldIndex("m"))))
      if (i < kCap)
        state = state.withColumn("m",
          least(col("m"), d2To(codesOf(next))))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(picks.toSeq.map {
        case (p, v, r) => Row(p, v, r)
      }, 1),
      StructType(Seq(StructField("pick", IntegerType, nullable = false),
        StructField("vec_id", LongType, nullable = false),
        StructField("radius2", LongType, nullable = false))))
  }
}
