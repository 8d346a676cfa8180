package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.WindowTopKRewrite
import graft.util.Scratch

/** Shared session per suite (one JVM-wide session; suites reuse it). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  /** This suite's temp dirs (`scratch.dir(name)`), deleted when the
    * suite ends. */
  val scratch = new Scratch
  override protected def afterAll(): Unit =
    try scratch.sweep() finally super.afterAll()
  /** The baseline side of a "matches the window" check: a child of
    * `spark` without the window-top-k rule. */
  lazy val windowed: SparkSession = SparkTestBase.windowed
  val sfDir = "/root/testdata/sf0.001"
  /** The reference SQL corpus q108/q109 read, for them and the corpus
    * suites; the tests that read it cancel where it is absent. */
  val corpusRoot: Path = graft.queries.InfraQueries.corpusDir
  def corpusAvailable: Boolean = Files.isDirectory(corpusRoot.resolve("sql"))

  /** `q`, asserted to be planned with its Window and without any
    * `topk_rows` aggregate (the baseline side). */
  def windowBaseline(q: DataFrame): DataFrame = {
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("Window"), s"baseline lost its Window:\n$plan")
    assert(!plan.contains("topk_rows"), s"baseline was rewritten:\n$plan")
    q
  }
}

object SparkTestBase {
  /** The session every entrypoint plans on, at a fixed local[4] and 4
    * shuffle partitions whatever `SPARK_GRAFT_CPUS` says. */
  lazy val session: SparkSession = GraftSession.getOrCreate("WARN", cpus = 4)

  /** Shares `session`'s context, cache and extensions, but excludes the
    * rule through Spark's own optimizer conf, so its plans keep their
    * Window. The shared session's conf is never changed. */
  lazy val windowed: SparkSession = {
    val s = session.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules", WindowTopKRewrite.ruleName)
    s
  }
}
