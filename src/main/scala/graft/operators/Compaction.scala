package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}

/** Small-file compaction — the table-hygiene operator every long-lived
  * 100 TB lake needs: streaming ingestion and per-trigger sinks leave
  * thousands of KB-sized parquet files whose open/footer costs dominate
  * scans (and whose listing dominates planning). Compaction rewrites a
  * directory into ⌈bytes / targetBytes⌉ files, preserving rows exactly.
  *
  * Implementation is deliberately boring Spark: one distributed read,
  * one `repartition(n)` (round-robin — balanced output files without
  * assuming any key), one overwrite into a staging dir followed by an
  * atomic-ish swap. The interesting part is the CONTRACT, which the
  * spec asserts: row multiset identical, file count = computed target,
  * and the rewrite never reads more than once.
  */
object Compaction {

  /** File count + total bytes of the parquet files under `dir`. */
  def stats(spark: SparkSession, dir: String): (Long, Long) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).filter(f => f.isFile &&
      f.getPath.getName.endsWith(".parquet"))
    (files.length.toLong, files.map(_.getLen).sum)
  }

  /** Compact `dir` in place to ~`targetBytes` per file. Returns
    * (filesBefore, filesAfter, rows). */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024): (Long, Long, Long) = {
    val (nBefore, bytes) = stats(spark, dir)
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val staging = dir + "_compact_staging"
    val df = spark.read.parquet(dir)
    val rows = df.repartition(n).write.mode(SaveMode.Overwrite)
    rows.parquet(staging)
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    fs.rename(new Path(staging), p)
    val (nAfter, _) = stats(spark, dir)
    (nBefore, nAfter, spark.read.parquet(dir).count())
  }
}
