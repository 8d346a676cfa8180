package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Hold

/** Transitive closure over an edge table (SURVEY §2.12): the reference
  * BFS-es bug depends_on/blocks links in Python sets with a recursion
  * limit (/root/reference/jobs/webcompat-kb/webcompat_kb/etl/
  * bugzilla.py:434-464, recurse_limit 10). Spark-native form: iterative
  * DataFrame self-join to fixpoint.
  *
  * Scale: each iteration is one equi-join + distinct (two shuffles) on
  * the frontier only — not the whole closure — so work per round is
  * proportional to newly discovered paths; maxIter bounds pathological
  * graphs exactly like the reference's recurse_limit. A hold
  * truncates the growing lineage so round N doesn't replay rounds 1..N-1.
  */
object Closure {

  /** Materialize + cut lineage: a hold truncates execution
    * lineage, and rebuilding from the held RDD gives the plan
    * fresh attribute ids (an analysis barrier) — without it, repeated
    * self-unions of the same attributes trip Catalyst constraint
    * propagation and re-plan the whole history each round. (r16 note:
    * a bare checkpoint was tried — self-UNIONS of one LogicalRDD
    * fail Union.rewriteConstraints with "key not found: src#N",
    * reproduced by OperatorsSpec's chain fixpoint — unlike the
    * self-JOIN-only ConnectedComponents loop, where the roundtrip was
    * removable. The Row roundtrip stays.) */
  private def barrier(df: DataFrame): DataFrame = {
    val cp = Hold(df)
    cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
  }

  /** All (src, dst) pairs reachable via `edges(src, dst)` within maxIter
    * hops. */
  def transitiveClosure(edges: DataFrame, maxIter: Int = 10): DataFrame = {
    val base = barrier(edges.select(col("src"), col("dst")).distinct())
    var closure = base
    var frontier = base
    var iter = 0
    var growing = true
    while (growing && iter < maxIter) {
      val next = barrier(frontier.alias("f")
        .join(base.alias("e"), col("f.dst") === col("e.src"))
        .select(col("f.src").as("src"), col("e.dst").as("dst"))
        .distinct()
        .join(closure, Seq("src", "dst"), "left_anti"))
      if (next.isEmpty) growing = false
      else {
        closure = barrier(closure.union(next))
        frontier = next
      }
      iter += 1
    }
    closure
  }
}
