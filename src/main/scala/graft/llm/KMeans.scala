package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Integer-exact distributed k-means (Lloyd's) over an embedding
  * column — the corpus-clustering primitive behind IVF cell maps
  * (Pq.scala), semantic-dedup cells (SemDedup.scala) and topic-balanced
  * mixture design. Those operators take their centroids as GIVENs
  * (deterministic samples); this is the operator that LEARNS centroids,
  * expressed so an external engine replays it bit-for-bit:
  *
  *  - Vectors are snapped to an integer grid (code_i = round(x_i·grid),
  *    the round-half-away both Spark and DuckDB use for doubles — the
  *    q119 portability idiom), so every distance is an exact BIGINT and
  *    argmin has no float-comparison ambiguity.
  *  - Assignment: nearest centroid by integer L2², ties to the lowest
  *    cluster id (array_position finds the FIRST index of the min).
  *  - Update: per-dimension integer mean, round(sum/n) on IEEE doubles
  *    (exact integer sum and count, correctly-rounded divide — identical
  *    on both engines). A cluster that loses every member keeps its
  *    previous centroid.
  *  - Init: the first k vectors by id — deterministic, no RNG to ship.
  *
  * Scale shape (the standard distributed k-means contract, same as
  * Spark MLlib's): per iteration ONE distributed pass — map-side
  * distance + partial per-(cluster, dim) sums, k×dim rows shuffled —
  * then the k×dim centroid table (tiny: k·dim·8 bytes) collects to the
  * driver and broadcasts back into the next iteration's closure. The
  * corpus is never collected and never shuffled whole; cost per
  * iteration is one scan + one k·dim-row reduce, so iterations×scan
  * dominates at 100 TB exactly like MLlib's implementation. Iterations
  * are FIXED (not convergence-tested) so the computation is a pure
  * function of the input — replayable by the oracle CTE-per-iteration.
  */
object KMeans {

  /** (vec_id, codes array<bigint>): embeddings snapped to the integer
    * grid. grid=1000 keeps 64-dim unit-scale distances ≪ 2^63. */
  def gridCodes(embeddings: DataFrame, grid: Double = 1000.0): DataFrame =
    embeddings.select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast(DoubleType) * grid, 0).cast(LongType)).as("codes"))

  /** Distance-to-each-centroid array; cluster = first argmin (ties →
    * lower id), d2 = the min distance. Pure codegen'd HOFs — no UDF. */
  private def withAssignment(codes: DataFrame,
      centroids: IndexedSeq[IndexedSeq[Long]]): DataFrame = {
    val dists = array(centroids.map { c =>
      aggregate(
        zip_with(col("codes"), typedLit(c), (x, v) => (x - v) * (x - v)),
        lit(0L), (acc, d) => acc + d)
    }: _*)
    codes
      .withColumn("dists", dists)
      .withColumn("cluster",
        (array_position(col("dists"), array_min(col("dists"))) - 1L)
          .cast(IntegerType))
      .withColumn("d2", array_min(col("dists")))
      .drop("dists")
  }

  /** One Lloyd update: integer per-dim means of each cluster's members;
    * clusters with no members keep their previous centroid. The k×dim
    * result is collected (it is the broadcast model, not data). */
  private def updateCentroids(assigned: DataFrame,
      prev: IndexedSeq[IndexedSeq[Long]]): IndexedSeq[IndexedSeq[Long]] = {
    val dim = prev.head.length
    val updated = assigned
      .select(col("cluster"), posexplode(col("codes")).as(Seq("i", "v")))
      .groupBy(col("cluster"), col("i"))
      .agg(round(sum(col("v")).cast(DoubleType) / count(lit(1)), 0)
        .cast(LongType).as("c"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (j, rows) =>
        val arr = new Array[Long](dim)
        rows.foreach(r => arr(r.getInt(1)) = r.getLong(2))
        j -> arr.toIndexedSeq
      }
    prev.indices.map(j => updated.getOrElse(j, prev(j)))
  }

  /** Run `iters` fixed Lloyd iterations from the deterministic init
    * (codes of the k lowest vec_ids) and return the final assignment
    * (vec_id, cluster, d2 — all exact integers). */
  def fit(embeddings: DataFrame, k: Int, iters: Int,
      grid: Double = 1000.0): DataFrame = {
    val codes = gridCodes(embeddings, grid)
    val init: IndexedSeq[IndexedSeq[Long]] = codes
      .orderBy("vec_id").limit(k).collect()
      .map(r => r.getSeq[Long](1).toIndexedSeq).toIndexedSeq
    var centroids = init
    for (_ <- 1 to iters)
      centroids = updateCentroids(withAssignment(codes, centroids), centroids)
    withAssignment(codes, centroids).select("vec_id", "cluster", "d2")
  }

  /** Per-cluster summary of a fitted assignment: sizes, id checksums and
    * integer inertia — the oracle-comparable report. */
  def report(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        min(col("vec_id")).as("first_vec"),
        sum(col("vec_id")).as("sum_vec"),
        sum(col("d2")).as("inertia"))
      .orderBy("cluster")
}
