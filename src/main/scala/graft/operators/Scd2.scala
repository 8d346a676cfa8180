package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Slowly-Changing-Dimension Type-2 build — turn an append-only
  * changelog (entity key, ordering columns, tracked attribute) into the
  * versioned dimension table a warehouse keeps history in: one row per
  * attribute VALUE EPISODE with `[valid_from, valid_to)` bounds,
  * `version` numbering and an `is_current` flag. The reference's
  * incremental snapshot-diff machinery (SURVEY §2.11 — per-entity state
  * timelines reconstructed from a change feed, e.g. webcompat-kb
  * `etl/metric_changes.py`'s who/change_time deltas) is exactly this
  * shape; SCD2 is its standard warehouse expression.
  *
  * Scale shape: everything is windows over ONE hash partitioning by the
  * entity key — change detection (`lag`), episode close (`lead`) and
  * version numbering (`row_number`) all share `partitionBy(key)`, and
  * the interposed filter preserves partitioning and sort order, so the
  * whole build is a single shuffle of the changelog no matter how many
  * window passes follow. No self-join against the dimension, no loop:
  * at 100 TB this is one exchange + per-partition sorts, and with the
  * changelog bucketed/sorted by key on disk the exchange disappears
  * entirely.
  */
object Scd2 {

  /** Build the SCD2 dimension.
    *
    * @param changes changelog frame
    * @param key     entity key column name
    * @param attr    tracked attribute column name
    * @param ord     ordering columns (must be a total order per key —
    *                include a unique tiebreaker)
    * @return (key, attr, valid_from, valid_to, is_current, version) —
    *         valid_from/valid_to are the FIRST ord column's value at
    *         episode open/close (valid_to null = open episode)
    */
  def build(changes: DataFrame, key: String, attr: String,
      ord: Seq[String]): DataFrame = {
    val byKey = Window.partitionBy(key).orderBy(ord.map(col): _*)
    // keep only rows where the tracked attribute actually changed —
    // consecutive duplicates extend the current episode, not open a new
    // one (classic SCD2 change detection)
    val episodes = changes
      .withColumn("prev_attr", lag(col(attr), 1).over(byKey))
      .filter(col("prev_attr").isNull || col("prev_attr") =!= col(attr))
      .drop("prev_attr")
    episodes
      .withColumn("valid_to", lead(col(ord.head), 1).over(byKey))
      .withColumn("is_current", col("valid_to").isNull)
      .withColumn("version", row_number().over(byKey).cast(LongType))
      .withColumnRenamed(ord.head, "valid_from")
      .select(col(key), col(attr), col("valid_from"), col("valid_to"),
        col("is_current"), col("version"))
  }
}
