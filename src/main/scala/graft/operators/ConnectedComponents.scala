package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Hold

/** Connected components via min-label propagation with pointer jumping —
  * the distributed form of union-find used for near-dup cluster
  * assignment (each duplicate cluster collapses to its minimum doc id,
  * which becomes the canonical "keeper").
  *
  * Scale: every round is two bounded shuffles — (1) per-vertex min over
  * neighbor labels (equi-join on the edge list, map-side combined min),
  * (2) a pointer-jumping label-resolution self-join. The jump is what
  * makes convergence logarithmic in component diameter instead of
  * linear: a length-L chain converges in O(log L) rounds, not L. State
  * per round is one (vertex, label) row per vertex — no component is
  * ever materialized on one executor, so a pathological 10⁹-member
  * cluster (e.g. boilerplate pages at 100 TB) costs shuffle volume, not
  * memory. Compare [[Closure.transitiveClosure]], which materializes all
  * reachable PAIRS (quadratic in component size) — right for the
  * reference's bounded bug-dependency graphs, wrong for dedup clusters.
  */
object ConnectedComponents {

  /** Cut lineage between rounds (same rationale as Closure.barrier:
    * repeated self-joins of one attribute set re-plan the whole
    * iteration history otherwise). A hold alone suffices: the
    * held plan is a LogicalRDD, which the analyzer re-instances
    * on self-join conflicts — the previous extra
    * `createDataFrame(cp.rdd, schema)` roundtrip deserialized every row
    * to external format and back once per round for the same effect
    * (r16: removed, measured pure overhead). */
  private def barrier(df: DataFrame): DataFrame = Hold(df)

  /** Component label (minimum reachable vertex id) for every vertex.
    *
    * @param vertices one `id` column — every vertex, including isolated
    *                 ones (they label themselves)
    * @param edges    `src`/`dst` columns, either orientation; symmetrized
    *                 internally
    * @return (id, comp) with comp = min vertex id of the component
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val sym = barrier(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    var labels = barrier(vertices.select(col("id"), col("id").as("comp")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // (1) pull the min label across each vertex's neighborhood
      val neighborMin = sym
        .join(labels.select(col("id").as("dst"), col("comp").as("ncomp")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("ncomp")).as("nmin"))
      // barrier `pulled` too: the pointer-jump self-join below keys its
      // two sides differently (c1 vs the renamed id), so no exchange is
      // shared and an un-barriered `pulled` re-runs the neighbor-min
      // join+aggregation once per side — 2x the round's shuffle work
      // (measured r16). The frame is |V| rows of three longs.
      val pulled = barrier(labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("comp"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("c1")))
      // (2) pointer jumping: comp(v) ← c1(c1(v)). Labels are always
      // vertex ids of the same component, so the self-join resolves each
      // label to ITS current label — chain distance-to-minimum grows
      // geometrically per round (s → 2s+2 on a path) instead of by 1,
      // which is what bounds rounds at O(log diameter).
      // The pre-round label rides along as `prev`, so convergence is a
      // filter over the just-checkpointed frame — no extra join+shuffle
      // per round.
      val next = barrier(pulled
        .join(pulled.select(col("id").as("c1"), col("c1").as("c2")), Seq("c1"))
        .select(col("id"), col("comp").as("prev"), col("c2").as("comp")))
      converged = next.filter(col("comp") =!= col("prev")).isEmpty
      labels = next.select(col("id"), col("comp"))
      iter += 1
    }
    labels
  }
}
