package graft.util

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table loading + oracle-parity numeric helpers.
  *
  * Scale note: `t()` returns a plain parquet scan; Catalyst pushes filters
  * and prunes columns into the scan, so every query built on it keeps
  * pushdown. Nothing here collects to the driver.
  *
  * Determinism note: double sums are order-dependent, and at cluster scale
  * the aggregation order is never stable (partial aggs, AQE). The driver
  * hash-compares our parquet output against a DuckDB oracle, so all money
  * sums go through exact decimal accumulation and are cast back to double
  * — bit-identical on both engines regardless of plan shape. This is also
  * the right call at 100 TB: decimal partial aggregation is still a
  * map-side combine; the cost is a wider accumulator, not a new shuffle.
  */
object Tables {
  /** Load a testdata table, with the schema [[readParquet]] infers once
    * per JVM. An `events.parquet` written with TIMESTAMP(NANOS), which
    * Spark 4 only reads with spark.sql.legacy.parquet.nanosAsLong (set in
    * every GraftSession), has its nanos long converted back to a
    * timestamp here (micros precision, plenty for this data). */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = readParquet(spark, s"$dir/$name.parquet")
    df.schema.find(f => f.name == "ts" && f.dataType == LongType) match {
      // integer `div`, not `/`: epoch-nanos (~1.7e18) overflow double
      // precision, so float division is off by up to ±128 µs
      case Some(_) => df.withColumn("ts",
        timestamp_micros(expr("ts div 1000")))
      case None => df
    }
  }

  /** The session settings a parquet schema inference reads: the parquet
    * reader's (`nanosAsLong`, `binaryAsString`, `int96AsTimestamp`,
    * `inferTimestampNTZ.enabled`, `mergeSchema`, ...) and the file
    * sources' (partition inference). */
  private val InferenceConf = Seq("spark.sql.parquet.", "spark.sql.legacy.parquet.", "spark.sql.sources.")

  /** Per (path, inference settings): the files it held (path, length,
    * modification time) and the schema Spark inferred from them. */
  private val inferred =
    new ConcurrentHashMap[(String, Map[String, String]), (Seq[(String, Long, Long)], StructType)]()

  /** `spark.read.parquet(path)`, read with the schema it would infer.
    * Inference is a Spark job, so it runs once per JVM for the same
    * files under the same settings; a rewritten file or a changed
    * setting infers again. A missing path goes to Spark, which reports
    * it. */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame = {
    val p = new HPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // not `listFiles`: its LocatedFileStatus copies each file's owner and
    // permission, which the local filesystem reads by forking `ls`
    def leaves(st: FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves)
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    val files =
      try Some(leaves(fs.getFileStatus(p)).sorted)
      catch { case _: FileNotFoundException => None }
    files.fold(spark.read.parquet(path)) { held =>
      val key = (path, spark.conf.getAll.filter { case (k, _) => InferenceConf.exists(k.startsWith) })
      val schema = Option(inferred.get(key)).collect { case (`held`, s) => s }.getOrElse {
        val s = spark.read.parquet(path).schema
        inferred.put(key, (held, s))
        s
      }
      spark.read.schema(schema).parquet(path)
    }
  }

  /** Exact order-independent sum of a 2-decimal (currency-like) column. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** SUM(price * (1 - disc)) computed entirely in decimal: the source
    * columns are 2-decimal currency values, so casting the *inputs* (not a
    * double product) to decimal is exact, and the whole sum is
    * order-independent and engine-independent. */
  def dsumRevenue(price: Column, disc: Column): Column =
    sum(price.cast(DecimalType(18, 2)) * (lit(1) - disc.cast(DecimalType(4, 2))))
      .cast(DoubleType)

  /** SUM(price * (1 - disc) * (1 + tax)) — same exact-decimal scheme. */
  def dsumCharge(price: Column, disc: Column, tax: Column): Column =
    sum(price.cast(DecimalType(18, 2)) * (lit(1) - disc.cast(DecimalType(4, 2))) *
      (lit(1) + tax.cast(DecimalType(4, 2)))).cast(DoubleType)

  /** Exact mean: decimal sum then a single IEEE double division. */
  def dmean(c: Column): Column =
    sum(c.cast(DecimalType(28, 10))).cast(DoubleType) / count(c)
}
