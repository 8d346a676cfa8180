package graft.operators

import org.apache.spark.sql.DataFrame

/** Incremental-run utilities (SURVEY §2.11): the reference implements
  * "streaming" as filtered re-runs guarded by these checks.
  *
  * Reference shapes:
  *  - missed-work reconciliation anti-join
  *    (broken-site-report-ml/main.py:206-226)
  *  - row-count-stability gate (etl/siterank.py:296-358)
  */
object Incremental {

  /** Missed-work reconciliation: source rows never processed (anti-join
    * on the processed-keys table). */
  def unprocessed(src: DataFrame, processed: DataFrame, keys: Seq[String]): DataFrame =
    src.join(processed, keys, "left_anti")

  /** Row-count-stability ingest gate: import only when the upstream count
    * matches the previously observed count (non-atomic upstream guard). */
  def stableCountGate(current: Long, previous: Option[Long]): Boolean =
    previous.contains(current)
}
