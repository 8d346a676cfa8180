package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-round k-core decomposition (iterative peeling): each round
  * removes nodes whose degree among SURVIVING nodes is < k; after
  * `rounds` rounds the survivor set is the k-core if converged, else a
  * superset (the contract is "r peeling rounds", replayed exactly by
  * the unrolled oracle — the [[ShortestPath]] fixed-iteration
  * pattern). The standard batch formulation: Batagelj–Zaveršnik is the
  * sequential version; distributed peeling converges in O(peel depth)
  * rounds.
  *
  * Scale shape: the edge list is materialized once (a localCheckpoint,
  * no partitioning of its own). Round 1 is one degree aggregation over
  * it; every later round joins only the edges leaving the previous
  * round's DYING nodes (a semi-join against the frontier, ≤ |V|) and
  * subtracts their per-node count from the survivors' degrees — no
  * alive-set distinct and no |E|-sized aliveness join per round.
  */
object KCore {

  /** Survivors of `rounds` peeling rounds at threshold k over a
    * SYMMETRIC edge list (src, dst) — returns (id, deg) with each
    * survivor's final-round degree.
    *
    * Frontier delta: round i's degree of a survivor s is round i−1's
    * degree minus its edges to the nodes that fell below k in round
    * i−1. By symmetry those are the edges (d, s) with d dying, counted
    * by `dst`. That equals the unrolled form's count of s's edges
    * into the survivor set, with one exception: a survivor whose every
    * neighbour died keeps degree 0 here, where the unrolled form has
    * no row for it. k ≥ 1 filters both the same way, so k ≤ 0 is
    * rejected.
    *
    * Iteration cadence (r17): each round's degree frame is an EAGER
    * localCheckpoint — the ConnectedComponents barrier pattern — so
    * every per-round plan stays shallow (one semi-join, one aggregate
    * and one join over LogicalRDDs) instead of nesting every earlier
    * round. Blocks are executor-resident and ContextCleaner-reclaimed;
    * on a real cluster an executor loss mid-query recomputes nothing
    * (localCheckpoint is not fault-tolerant) — acceptable for an
    * intra-query barrier, same trade as CC documents. */
  def run(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k-core threshold must be at least 1, got $k")
    require(rounds >= 1, s"k-core needs at least one round, got $rounds")
    val ed = edges.select(col("src"), col("dst")).localCheckpoint(true)
    var deg = ed.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg")).localCheckpoint(true)
    for (_ <- 2 to rounds) {
      val dying = deg.filter(col("deg") < k).select(col("id").as("src"))
      val lost = ed.join(dying, Seq("src"), "left_semi")
        .groupBy(col("dst").as("id"))
        .agg(count(lit(1)).as("lost"))
      deg = deg.filter(col("deg") >= k)
        .join(lost, Seq("id"), "left")
        .select(col("id"), (col("deg") - coalesce(col("lost"), lit(0L))).as("deg"))
        .localCheckpoint(true)
    }
    deg.filter(col("deg") >= k)
  }

  /** DuckDB replay of [[run]]: one (edge-restrict, degree, filter) CTE
    * triple per round. `edgesSql` SELECTs a symmetric (src, dst). */
  def unrolledSql(edgesSql: String, k: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""e$i AS (
         |  SELECT e.src, e.dst FROM e
         |  JOIN a${i - 1} s ON s.id = e.src
         |  JOIN a${i - 1} t ON t.id = e.dst),
         |d$i AS (SELECT src AS id, COUNT(*)::BIGINT AS deg FROM e$i GROUP BY 1),
         |a$i AS (SELECT id FROM d$i WHERE deg >= $k)""".stripMargin
    }
    s"""WITH e AS ($edgesSql),
       |a0 AS (SELECT DISTINCT src AS id FROM e),
       |${roundCtes.mkString(",\n")}
       |SELECT id, deg FROM d$rounds WHERE deg >= $k""".stripMargin
  }
}
