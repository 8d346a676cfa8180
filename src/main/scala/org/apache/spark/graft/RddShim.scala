package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Bridge to `SparkContext.unpersistRDD`, which is `private[spark]`: it
  * drops an RDD's blocks as `RDD.unpersist` does, without the warning
  * that method logs for a locally checkpointed RDD, whose release is the
  * whole point of `graft.util.Hold`'s scopes. Lives in an
  * `org.apache.spark` subpackage purely for access; no Spark internals
  * are modified. */
object RddShim {
  def release(sc: SparkContext, rddId: Int): Unit = sc.unpersistRDD(rddId, blocking = true)
}
