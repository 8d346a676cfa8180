package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one session builder of every entrypoint: `graft.Main`, Verify,
  * Bench and the surviving `graft.tools`. The correctness gate
  * (Verify), the bench and the shipped container therefore plan every
  * query with the same settings and the same injected rules
  * (`graft.GraftExtensions`: the native functions and the
  * window-top-k rewrite).
  *
  * Each setting is a default: a value already in the conf — from
  * spark-submit's `--conf`, `spark-defaults.conf` or a `-Dspark.*`
  * system property — wins. `perfbench/workloads.json`'s `query_conf`
  * must carry the same values (GraftSessionSpec checks it).
  */
object GraftSession {

  private val Extensions = classOf[GraftExtensions].getName

  /** Core count from `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int = 4): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** `base` with graft's settings filled in where missing and
    * `graft.GraftExtensions` appended to `spark.sql.extensions` (once).
    * `base` itself is not changed. */
  def conf(base: SparkConf, cpus: Int): SparkConf = {
    val c = base.clone()
    Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      // events.parquet carries TIMESTAMP(NANOS); read it as a long
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // ObjectHashAggregate (TypedImperativeAggregate paths: TopKAgg,
      // PairCountAgg, HistogramAgg, collect_*) abandons hashing and
      // SORTS the whole input once a task sees more than the default
      // 128 distinct groups. 64k groups of small buffers is a few MB per
      // task at any scale; the knob counts groups, not data volume, so
      // the same value is right on a cluster.
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
      "spark.ui.enabled" -> "false",
    ).foreach { case (k, v) => c.setIfMissing(k, v) }
    val ext = c.getOption("spark.sql.extensions").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    c.set("spark.sql.extensions",
      (if (ext.contains(Extensions)) ext else ext :+ Extensions).mkString(","))
  }

  /** The session built from [[conf]] over the process's `spark.*`
    * settings. */
  def getOrCreate(logLevel: String = "WARN",
      cpus: Int = GraftSession.cpus()): SparkSession = {
    val spark = SparkSession.builder().config(conf(new SparkConf(), cpus)).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
