package graft

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, ExecutionException, Executors}

import scala.util.{Failure, Try}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.EtlRunner.{JobContext, JobSpec}
import graft.catalog.SchemaId

/** Deployable batch entrypoint — the container story (SURVEY §3.1).
  *
  * The reference ships each job as a Dockerflow container whose
  * entrypoint is a CLI main (e.g.
  * /root/reference/jobs/webcompat-kb/webcompat_kb/main.py:37-138:
  * argparse over --bq-project-id/--write/--no-write, a job registry,
  * sequential execution with collected failures). This is the Spark
  * equivalent: one thin app jar (`sbt package`) launched by
  * `spark-submit --class graft.Main` (cluster) or `java -cp` with the
  * Spark jars appended (local smoke, bin/smoke.sh), flags mirroring
  * the reference's lifecycle:
  *
  * {{{
  * graft.Main --data-dir /data/sf0.01 --out /out \
  *   [--jobs webcompat-kb,llm-prep] [--no-write] [--staging] [--list]
  * }}}
  *
  * Each "job" is a named pack of query plans over the warehouse tables
  * in --data-dir, written through [[graft.catalog.WriteGuard]] (so
  * --no-write dry-runs with the would-be effects logged, and each
  * job's write-targets whitelist is enforced — the reference's
  * `write=False` / `write_targets` contract). Packs run one after
  * another in registration order. Inside a pack, the output tables are
  * built and written concurrently (see [[pack]]): each query reads
  * only warehouse tables, never a sibling's output, so one table's
  * driver-side planning, scheduling and commit time overlaps another
  * table's tasks. Exit code 1 when any job fails, with each failed
  * job's exception class and root cause on stderr — the report shape
  * the reference's runner prints.
  *
  * Scale note: the session comes from [[GraftSession]], whose settings
  * are defaults only, so spark-submit's cluster conf (master, executors,
  * shuffle partitions) wins. Without a submitted master (`java -cp`
  * launch) it runs at local[SPARK_GRAFT_CPUS]; shuffle partitions
  * default to SPARK_GRAFT_CPUS too (4 when unset). The effective
  * master, shuffle partition count and session extensions are logged
  * at start.
  */
object Main {

  /** Container-job registry: name → the SparkEntry queries that job
    * materializes (its output tables). Names mirror the reference's
    * jobs/ directories where a counterpart exists. */
  private val jobPacks: Seq[(String, Seq[String])] = Seq(
    // webcompat-kb's scored_site_reports chain (main.py ETL_JOBS)
    "webcompat-kb" -> Seq("q105_webcompat_flagship"),
    // the LLM training-data prep funnel (brief §LLM): dedup →
    // decontaminate → mixture → pack → shard export
    "llm-prep" -> Seq("q70_exact_dedup", "q72_minhash_lsh",
      "q84_decontaminate", "q85_mixture_sample", "q59_sequence_pack",
      "q88_shard_export", "q89_prep_pipeline"),
    // the 160-object SQL corpus: analyze-sweep + fixture execution
    // (needs SPARK_GRAFT_CORPUS_ROOT or the default reference layout)
    "corpus-dag" -> Seq("q108_corpus_sweep", "q109_corpus_exec"),
  )

  def registry(dataDir: String, outDir: String): Seq[JobSpec] =
    jobPacks.map { case (job, qs) => pack(job, qs, dataDir, outDir) }

  /** One job pack. Each query's build and guarded write run as one task
    * on a fixed pool of min(#queries, defaultParallelism) threads that
    * lives only for this run of the pack, so the pool grows with the
    * cluster's cores. Each task plans on its own child session
    * (`newSession`): the context, cache and extensions are shared, but
    * the temp views a query registers and the SQL conf it sets are its
    * own, so concurrent siblings cannot see or undo each other's (q108
    * and q109 deploy the same view names and set
    * `storeAnalyzedPlanForView` differently). A failing query does not
    * stop its siblings: the pack waits for all of them, then fails with
    * the first failure in registration order. */
  private[graft] def pack(job: String, qs: Seq[String], dataDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries): JobSpec =
    JobSpec(job, Some(qs.toSet), (ctx: JobContext) =>
      runAll(s"graft-pack-$job", ctx.spark.sparkContext.defaultParallelism, qs.map { q => () =>
        val df = queries(q)(ctx.spark.newSession(), dataDir)
        val target = ctx.staging.mapId(SchemaId("graft", job.replace('-', '_'), q))
        ctx.guard.writeTable(df, target, s"$outDir/${target.sparkName}", SaveMode.Overwrite)
        ()
      }))

  /** Runs `tasks` on a fixed pool of min(#tasks, `parallelism`) threads
    * named `<name>-<i>` and waits for every task. The pool is shut down
    * and its threads have exited when this returns, so no pool outlives
    * its pack to hold the container's JVM open. Then the first failure
    * in task order is rethrown as the task threw it, not wrapped in the
    * pool's `ExecutionException`. */
  private[graft] def runAll(name: String, parallelism: Int, tasks: Seq[() => Unit]): Unit = {
    val threads = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(tasks.size, parallelism)),
      (r: Runnable) => {
        val t = new Thread(r, s"$name-${threads.size}")
        threads.add(t)
        t
      })
    val outcomes =
      try tasks.map(task => pool.submit((() => task()): Callable[Unit])).map(f => Try(f.get()))
      finally { pool.shutdown(); threads.forEach(_.join()) }
    outcomes.collectFirst { case Failure(e) => e }.foreach {
      case e: ExecutionException if e.getCause != null => throw e.getCause
      case e => throw e
    }
  }

  def main(args: Array[String]): Unit = {
    var dataDir = ""
    var outDir = ""
    var jobs: Seq[String] = Nil
    var write = true
    var staging = false
    var list = false
    var i = 0
    // a valued flag in last position is a usage error, not an
    // ArrayIndexOutOfBoundsException
    def valueOf(flag: String): String = {
      if (i + 1 >= args.length) sys.error(s"missing value for $flag")
      args(i + 1)
    }
    while (i < args.length) {
      args(i) match {
        case f @ "--data-dir" => dataDir = valueOf(f); i += 2
        case f @ "--out" => outDir = valueOf(f); i += 2
        case f @ "--jobs" => jobs = valueOf(f).split(",").toSeq.filter(_.nonEmpty); i += 2
        case "--write" => write = true; i += 1
        case "--no-write" => write = false; i += 1
        case "--staging" => staging = true; i += 1
        case "--list" => list = true; i += 1
        case other => sys.error(s"unknown flag: $other")
      }
    }
    if (list) {
      jobPacks.foreach { case (j, qs) => println(s"$j: ${qs.mkString(", ")}") }
      return
    }
    require(dataDir.nonEmpty, "--data-dir is required")
    require(outDir.nonEmpty || !write, "--out is required unless --no-write")

    val spark = GraftSession.getOrCreate()
    System.err.println(s"[graft] master=${spark.sparkContext.master} " +
      s"shuffle.partitions=${spark.conf.get("spark.sql.shuffle.partitions")} " +
      s"extensions=${spark.conf.get("spark.sql.extensions")}")

    val report = EtlRunner.run(spark, registry(dataDir, outDir), jobs,
      write = write, staging = staging, log = m => System.err.println(s"[graft] $m"))
    report.succeeded.foreach(j => System.err.println(s"[graft] OK   $j"))
    report.errors.foreach { case (j, e) =>
      System.err.println(s"[graft] FAIL $j: ${EtlRunner.describe(e)}") }
    spark.stop()
    if (report.failed.nonEmpty) sys.exit(1)
  }
}
