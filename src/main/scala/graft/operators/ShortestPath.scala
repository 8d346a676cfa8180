package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Hold

/** Bounded-hop weighted shortest paths (Bellman–Ford rounds) — the
  * weighted companion to [[Closure]] (unweighted reachability) and
  * [[PageRank]] (centrality) on the same edge tables: k relax rounds
  * give exact shortest distances over paths of ≤ k hops, the standard
  * distributed SSSP formulation (each round is one join + one
  * min-aggregation; GraphX's `shortestPaths` is this same loop).
  *
  * Determinism: weights and distances are BIGINTs, infinity is the
  * sentinel [[Inf]] (min-safe, no NULL handling differences between
  * engines), every round is `min(dist, min(dist_u + w))` — pure
  * integer min/plus, so [[unrolledSql]] (generated from the same
  * constants) replays every round bit-for-bit.
  *
  * Scale shape: identical to [[PageRank]] — the edge table is
  * hash-partitioned by src once and held; per round only the
  * distance vector (|V| rows) shuffles: once to meet the edges, once
  * for the per-dst min. Rounds are fixed, so no convergence-test
  * collect in the loop.
  */
object ShortestPath {

  /** Distance sentinel for "unreached" (min-safe; any real path is
    * shorter). */
  val Inf = 1000000000000000L

  /** Run `rounds` relax rounds from `sources` (id column) over
    * weighted edges (src, dst, w — BIGINT weight ≥ 0). Returns
    * (id, dist) with dist = exact min-weight over ≤ rounds hops, or
    * [[Inf]] if unreached.
    *
    * Frontier optimization (exactness preserved by induction: a node's
    * distance can only improve via a neighbor improved in the PREVIOUS
    * round, and round 0 improves exactly the sources): each round
    * relaxes only edges out of last round's improved set, so the relax
    * join carries |frontier|-adjacent edges, not all |E| candidates —
    * on wide graphs the early rounds shrink from |E| to ~|sources|·deg.
    * Each round's (dist ⟕ relaxed) is held: the reused intermediate
    * (read by the next round's dist and frontier) is computed once and
    * the iteration lineage stays one round deep (no 2^rounds plan
    * blowup, bounded driver plans). */
  def run(edges: DataFrame, sources: DataFrame, rounds: Int): DataFrame = {
    val ed = Hold(edges.repartition(col("src")))
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    var dist = Hold(nodes
      .join(sources.select(col("id")).withColumn("s", lit(1)), Seq("id"), "left")
      .select(col("id"), when(col("s").isNotNull, 0L).otherwise(Inf).as("dist")))
    var frontier = dist.filter(col("dist") === 0L)
    for (_ <- 1 to rounds) {
      val relaxed = ed
        .join(frontier.select(col("id"), col("dist").as("fd")),
          ed("src") === col("id"))
        .select(ed("dst").as("id"), (col("fd") + col("w")).as("cand"))
        .groupBy("id").agg(min(col("cand")).as("best"))
      val joined = Hold(dist.join(relaxed, Seq("id"), "left"))
      dist = joined.select(col("id"),
        least(col("dist"), coalesce(col("best"), lit(Inf))).as("dist"))
      frontier = joined.filter(col("best") < col("dist"))
        .select(col("id"), col("best").as("dist"))
    }
    Hold(dist)
  }

  /** DuckDB replay of [[run]]: one CTE per relax round from the same
    * constants. `edgesSql` SELECTs (src, dst, w); `sourcesSql` SELECTs
    * (id). */
  def unrolledSql(edgesSql: String, sourcesSql: String, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""d$i AS (
         |  SELECT d.id,
         |    LEAST(d.dist, COALESCE(m.best, $Inf)) AS dist
         |  FROM d${i - 1} d LEFT JOIN (
         |    SELECT e.dst AS id, MIN(p.dist + e.w) AS best
         |    FROM e JOIN d${i - 1} p ON p.id = e.src
         |    GROUP BY 1) m ON m.id = d.id)""".stripMargin
    }
    s"""WITH e AS ($edgesSql),
       |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |src AS ($sourcesSql),
       |d0 AS (
       |  SELECT n.id,
       |    CASE WHEN s.id IS NULL THEN $Inf ELSE 0 END AS dist
       |  FROM n LEFT JOIN src s ON s.id = n.id),
       |${roundCtes.mkString(",\n")}""".stripMargin
  }
}
