package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Hold

/** DML semantics on immutable storage (SURVEY §2.10 D1–D4): the
  * reference's INSERT...SELECT / UPDATE...FROM / DELETE WHERE
  * (/root/reference/jobs/webcompat-kb/webcompat_kb/bqhelpers.py:623-718;
  * delete-then-insert idempotency per yyyymm partition at
  * etl/siterank.py:114-135) rewritten as read→transform→overwrite.
  *
  * Scale notes: `updateFrom` is one join + one rewrite of the table;
  * partition-scoped `deleteWhere`+`insertAppend` pairs with partitioned
  * parquet and dynamic partition overwrite so only touched partitions
  * rewrite (spark.sql.sources.partitionOverwriteMode=dynamic).
  */
final case class MutableTable(spark: SparkSession, path: String) {

  def read: DataFrame = spark.read.parquet(path)

  /** D1 INSERT ... SELECT — append rows. */
  def insertAppend(rows: DataFrame): Unit =
    rows.write.mode(SaveMode.Append).parquet(path)

  /** D4 WRITE_TRUNCATE — replace contents. */
  def overwrite(rows: DataFrame): Unit = {
    // Materialize before overwriting the path being read (self-overwrite
    // on the same parquet dir is undefined otherwise).
    Hold.scope(Hold(rows).write.mode(SaveMode.Overwrite).parquet(path))
  }

  /** D2 UPDATE target SET col = src.col FROM src WHERE join — rewritten
    * as left join + conditional column replacement + overwrite. */
  def updateFrom(src: DataFrame, joinKeys: Seq[String],
      setCols: Map[String, String]): Unit = {
    val t = read
    val srcRenamed = setCols.values.toSeq.distinct.foldLeft(src) {
      (df, c) => df.withColumnRenamed(c, s"__src_$c")
    }
    val joined = t.join(
      srcRenamed.select((joinKeys ++ setCols.values.map(c => s"__src_$c")).distinct
        .map(col): _*),
      joinKeys, "left")
    val updated = setCols.foldLeft(joined) { case (df, (tgtCol, srcCol)) =>
      df.withColumn(tgtCol,
        when(col(s"__src_$srcCol").isNotNull, col(s"__src_$srcCol"))
          .otherwise(col(tgtCol)))
    }.drop(setCols.values.map(c => s"__src_$c").toSeq.distinct: _*)
    overwrite(updated.select(t.columns.map(col): _*))
  }

  /** D3 DELETE WHERE — rewrite keeping the complement. */
  def deleteWhere(cond: Column): Unit =
    overwrite(read.filter(!coalesce(cond, lit(false))))
}
