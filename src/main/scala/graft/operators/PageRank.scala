package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Hold

/** Integer-exact fixed-iteration PageRank — the graph-centrality
  * companion to [[Closure]] (BFS reachability) and
  * [[ConnectedComponents]] (cluster labels): where those answer "what
  * is connected", PageRank answers "what matters", the ranking signal
  * a web/training-data pipeline uses for crawl prioritisation and
  * quality weighting. The reference's graph layer (SURVEY §2.12 —
  * bugzilla depends_on/blocks traversal) stops at closure; this is the
  * natural next operator on the same edge tables.
  *
  * Determinism contract (the q123 k-means idiom): ranks are BIGINTs
  * scaled by 1e12, every per-edge contribution is an integer floor
  * division `rank div outdeg`, and the damping step is
  * `teleport + (85 · Σ) div 100` — all order-independent integer
  * arithmetic, so an external engine replays the whole fit bit-for-bit
  * from [[unrolledSql]] (generated from the SAME constants; the two
  * sides cannot drift). Iterations are FIXED, not convergence-tested,
  * so the result is a pure function of the edge set. Per-node rank
  * mass starts at 1.0·SCALE (the uniform-start formulation scaled by
  * N — identical ordering to the 1/N convention); dangling nodes leak
  * mass (documented, standard for non-redistributing implementations),
  * which the fixed teleport floor keeps bounded.
  *
  * Scale shape (the Pregel/GraphX contract): the edge table — the big
  * side at 100 TB — is joined on `src` every iteration, so it is
  * hash-partitioned by src ONCE (held with its out-degree already
  * attached) and never re-shuffled; only the rank vector (|V| rows,
  * 16 bytes each) moves per iteration: one shuffle to meet the edges,
  * one to re-aggregate by dst. Cost per iteration = 2 shuffles of
  * O(|V|+|E| contribs), edges stationary — the same movement pattern
  * as GraphX's `staticPageRank`.
  */
object PageRank {

  /** Rank fixed-point scale: 1.0 of rank mass = 1e12. */
  val Scale = 1000000000000L

  /** (1−d)·Scale with d = 0.85, floored — the per-node teleport term. */
  val Teleport: Long = 15L * Scale / 100L

  /** Run `iters` damped iterations over a directed edge list
    * (`src`, `dst`; duplicates must be pre-distinct'd). Returns
    * (id, r) — the scaled integer rank per node, held: the hold
    * truncates the iterated lineage (bounded plans at any iteration
    * count). */
  def run(edges: DataFrame, iters: Int): DataFrame = Hold(iterate(edges, iters))

  /** The lazy loop body (exposed for plan audits): the final rank plan
    * over the two held loop tables. */
  private[graft] def iterate(edges: DataFrame, iters: Int): DataFrame = {
    // out-degree rides WITH the edge row so the per-iteration join
    // touches one stationary table; |E|-row shuffle happens once, here.
    val ed = Hold(edges
      .join(edges.groupBy("src").agg(count(lit(1)).as("d")), "src")
      .repartition(col("src")))
    val nodes = Hold(edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct())
    var ranks = nodes.select(col("id"), lit(Scale).as("r"))
    for (_ <- 1 to iters) {
      val in = ed.join(ranks, ed("src") === ranks("id"))
        .select(ed("dst").as("id"), expr("r div d").as("c"))
        .groupBy("id").agg(sum(col("c")).as("s"))
      ranks = nodes.join(in, Seq("id"), "left")
        .select(col("id"),
          (lit(Teleport) + expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
    }
    ranks
  }

  /** The DuckDB replay of [[run]]: one CTE per iteration, generated
    * from the same Scale/Teleport/damping constants and the same
    * floor-division steps (`//` is DuckDB's integer division, Spark's
    * `div`). `edgesSql` must SELECT columns (src, dst), pre-distinct. */
  def unrolledSql(edgesSql: String, iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT n.id,
         |    $Teleport + (85 * COALESCE(m.s, 0)) // 100 AS r
         |  FROM n LEFT JOIN (
         |    SELECT e.dst AS id, SUM(r${i - 1}.r // e.d) AS s
         |    FROM ed e JOIN r${i - 1} ON r${i - 1}.id = e.src
         |    GROUP BY 1) m ON m.id = n.id)""".stripMargin
    }
    s"""WITH e AS ($edgesSql),
       |ed AS (SELECT e.src, e.dst, d.d FROM e
       |       JOIN (SELECT src, COUNT(*) AS d FROM e GROUP BY 1) d
       |         ON d.src = e.src),
       |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |r0 AS (SELECT id, $Scale AS r FROM n),
       |${iterCtes.mkString(",\n")}""".stripMargin
  }
}
