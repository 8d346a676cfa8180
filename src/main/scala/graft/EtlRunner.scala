package graft

import org.apache.spark.sql.SparkSession
import graft.catalog.{StagingMapper, WriteGuard}

/** Job-runner frame — the reference's ETL entry lifecycle (SURVEY §3.1;
  * /root/reference/jobs/webcompat-kb/webcompat_kb/main.py:37-138):
  * a registry of named jobs, one context per job carrying the session +
  * write guard (with that job's write-targets whitelist) + staging
  * mapper, sequential execution with per-job failure collection (one
  * failing job doesn't stop the rest; failures are reported together).
  */
object EtlRunner {

  final case class JobContext(
      spark: SparkSession,
      guard: WriteGuard,
      staging: StagingMapper)

  final case class JobSpec(
      name: String,
      writeTargets: Option[Set[String]],
      body: JobContext => Unit)

  /** `errors`: each failed job's exception, as its body threw it. */
  final case class RunReport(succeeded: Seq[String], errors: Map[String, Throwable]) {
    /** Each failed job's error message (the exception itself when it has none). */
    def failed: Map[String, String] =
      errors.map { case (j, e) => j -> Option(e.getMessage).getOrElse(e.toString) }
  }

  /** Exception class and message, followed by the root cause's when the
    * exception has one. */
  def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val head = s"${e.getClass.getName}: ${e.getMessage}"
    if (root eq e) head else s"$head (root cause ${root.getClass.getName}: ${root.getMessage})"
  }

  /** Run the selected jobs (all registered when `names` empty) in
    * registration order, collecting failures. */
  def run(spark: SparkSession, registry: Seq[JobSpec], names: Seq[String] = Nil,
      write: Boolean = true, staging: Boolean = false,
      log: String => Unit = _ => ()): RunReport = {
    val selected =
      if (names.isEmpty) registry
      else {
        val byName = registry.map(j => j.name -> j).toMap
        names.map(n => byName.getOrElse(n, sys.error(s"Unknown job: $n")))
      }
    val results = selected.map { job =>
      val ctx = JobContext(spark,
        WriteGuard(write, job.writeTargets, log),
        StagingMapper(staging))
      job.name -> (try { job.body(ctx); None } catch { case e: Exception => Some(e) })
    }
    RunReport(
      results.collect { case (n, None) => n },
      results.collect { case (n, Some(e)) => n -> e }.toMap)
  }
}
