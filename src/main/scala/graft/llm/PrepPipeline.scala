package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data preparation funnel: the surviving row count after every
  * stage of a filter cascade — the standard
  * "how much data did each filter cost me" report of an LLM data pipeline
  * (the same funnel shape C4/RefinedWeb/FineWeb publish for their
  * filtering cascades).
  */
object PrepPipeline {

  /** Funnel report for a PREDICATE cascade (plus an optional final
    * dedup-by-key stage) in ONE aggregation over ONE scan: per-row
    * survival flags are cumulative ANDs computed in a single projection,
    * stage counts are conditional sums (map-side combined), and the
    * dedup stage is a conditional COUNT(DISTINCT key) over the last
    * cascade's survivors. This is the funnel that actually costs one
    * pass at 100 TB. */
  def auditOnePass(input: DataFrame, preds: Seq[(String, Column)],
      dedupKey: Option[(String, Column)] = None): DataFrame = {
    val flags = preds.scanLeft(lit(true)) { case (acc, (_, p)) => acc && p }.tail
    val stageCounts = flags.zipWithIndex.map { case (f, i) =>
      sum(f.cast("long")).as(s"n$i")
    }
    val dedupCount = dedupKey.toSeq.map { case (_, key) =>
      count_distinct(when(flags.last, key)).as("n_dedup")
    }
    val row = input.agg(count(lit(1)).as("n_raw"), stageCounts ++ dedupCount: _*)
    val entries =
      struct(lit(0).cast("int").as("stage_idx"), lit("raw").as("stage"),
        col("n_raw").as("n_rows")) +:
      preds.zipWithIndex.map { case ((name, _), i) =>
        struct(lit(i + 1).cast("int").as("stage_idx"), lit(name).as("stage"),
          col(s"n$i").as("n_rows"))
      } ++:
      dedupKey.toSeq.map { case (name, _) =>
        struct(lit(preds.size + 1).cast("int").as("stage_idx"),
          lit(name).as("stage"), col("n_dedup").as("n_rows"))
      }
    row.select(explode(array(entries: _*)).as("e"))
      .select(col("e.stage_idx"), col("e.stage"), col("e.n_rows"))
  }
}
