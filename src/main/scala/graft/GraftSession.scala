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
  * Two settings make a generated class compile once per class loader
  * (PERF_NOTES "Compile once per class loader").
  * `spark.sql.artifact.isolation.enabled=false` keeps one executor
  * class loader per SparkContext instead of one per session, so the
  * tasks of one child session reuse what its siblings compiled: in one
  * cold `Main` run of both packs at sf0.01 the tasks' compiles fall
  * from 146 to 117. `spark.sql.codegen.cache.maxEntries=2000` pays only
  * in a JVM that compiles more classes than Spark's 100-entry default
  * holds and then meets one of them again: one Verify run of every
  * query compiles 4,638 classes with it and 7,334 without, and a JVM
  * that runs `Main` more than once keeps the driver's classes from one
  * run to the next. One container run of `Main` compiles each of its
  * 172 classes once and gains nothing from it. CodegenReuseSpec pins
  * both.
  *
  * Each setting is a default: a value already in the conf — from
  * spark-submit's `--conf`, `spark-defaults.conf` or a `-Dspark.*`
  * system property — wins. `perfbench/workloads.json`'s `query_conf`
  * must carry the same values, but for the keys GraftSessionSpec names
  * (it checks both ways).
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
      // With isolation on, each session (every `newSession()`, every
      // streaming trigger's clone) gets its own ExecutorClassLoader, so
      // a query's tasks recompile every generated class and look classes
      // up over RPC again. graft adds no per-session jars or artifacts;
      // child sessions keep their own temp views and SQL conf without it.
      "spark.sql.artifact.isolation.enabled" -> "false",
      // Spark keys its codegen cache by (class loader, code) and holds
      // 100 entries by default; a Verify run, or a JVM that reruns a
      // pack, meets a class again after more than 100 others, so the
      // LRU had evicted it and it compiled again.
      // An entry is one loaded class and its source: 10 KB of source on
      // average over Main's 176 (largest 140 KB), so the bound costs
      // some tens of MB at most. It is read once per JVM, when Spark's
      // code generator is first used.
      "spark.sql.codegen.cache.maxEntries" -> "2000",
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
