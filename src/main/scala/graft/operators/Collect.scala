package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Per-group collection helpers (SURVEY §2.4 A5–A7, §2.6 O4).
  *
  * Spark has no `ARRAY_AGG(x ORDER BY y LIMIT k)`; the idiomatic
  * equivalent keeps everything inside codegen'd higher-order functions:
  * collect structs → sort_array → slice → project. The per-group arrays
  * are bounded by k after slice, so executor memory stays bounded even
  * for hot keys (the pre-slice collect is the only skew risk — for
  * reference workloads k≈1000 and groups are clients, which is fine;
  * for truly unbounded groups switch to the window row_number ≤ k form).
  */
object Collect {

  /** ARRAY_AGG(payload ORDER BY sortKey LIMIT k) — UO summary.sql:39-43.
    * `sortKey` must be orderable; ascending. For descending numeric
    * order pass the negated column. */
  def orderedLimitedCollect(sortKey: Column, payload: Column, k: Int): Column =
    transform(
      slice(sort_array(collect_list(struct(sortKey.as("k"), payload.as("v")))), 1, k),
      e => e.getField("v"))

  /** ARRAY_AGG(DISTINCT x IGNORE NULLS) with deterministic order
    * (site_reports_next_action/view.sql:4-6). */
  def sortedSet(c: Column): Column =
    sort_array(array_compact(collect_set(c)))

  /** Deterministic string rendering of a per-group set, for
    * oracle-comparable output. */
  def sortedSetCsv(c: Column): Column = array_join(sortedSet(c), ",")
}
