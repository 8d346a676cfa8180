package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Every generated class compiles once per class loader. Spark caches
  * compiled classes by (context class loader, code): a child session
  * must reuse its parent's executor class loader, and the cache must
  * hold a whole job pack, or each query recompiles what its siblings
  * and its earlier runs already compiled. The count is Spark's own:
  * one `CodegenMetrics` compilation-time sample per Janino compile, on
  * the driver and in tasks alike. */
class CodegenReuseSpec extends SparkTestBase {

  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def q70(s: SparkSession): Unit =
    SparkEntry.queries("q70_exact_dedup")(s, sfDir).write.mode("overwrite").format("noop").save()

  test("a query on a second child session compiles nothing") {
    q70(spark.newSession())
    assert(compiles(q70(spark.newSession())) == 0)
  }

  // q105 is the one query whose classes differ from run to run. Under
  // AQE its query stages are re-planned as its concurrent stages
  // finish, so the codegen stage ids, and what each whole-stage class
  // fuses, follow the order they finish in: a rerun in a new order
  // compiles 4 or 8 new whole-stage classes (both loaders), and none
  // once each order has been seen. So a rerun of llm-prep compiles
  // nothing, and a rerun of webcompat-kb at most 22 classes: q105's 11
  // whole-stage classes, for each of the two class loaders.
  test("a second run of Main's packs on fresh child sessions compiles nothing new") {
    def run(job: String, i: Int): Long = compiles {
      val report = EtlRunner.run(spark, Main.registry(sfDir, scratch.dir(s"codegen_reuse_$i")), Seq(job))
      assert(report.failed.isEmpty, report.errors)
    }
    run("webcompat-kb", 0)
    run("llm-prep", 0)
    for (i <- 1 to 2) {
      val llm = run("llm-prep", i)
      assert(llm == 0, s"llm-prep's rerun $i compiled $llm classes")
      val webcompat = run("webcompat-kb", i)
      assert(webcompat <= 22, s"webcompat-kb's rerun $i compiled $webcompat classes")
    }
  }
}
