package graft

import org.apache.spark.sql.SaveMode
import graft.EtlRunner.JobSpec
import graft.catalog.SchemaId

class EtlRunnerSpec extends SparkTestBase {
  import spark.implicits._

  test("runs jobs in order, collects failures without stopping (main.py:116-138)") {
    val order = scala.collection.mutable.ListBuffer[String]()
    val jobs = Seq(
      JobSpec("a", None, _ => order += "a"),
      JobSpec("boom", None, _ => { order += "boom"; sys.error("kaput") }),
      JobSpec("c", None, _ => order += "c"))
    val report = EtlRunner.run(spark, jobs)
    assert(order.toSeq == Seq("a", "boom", "c"))
    assert(report.succeeded == Seq("a", "c"))
    assert(report.failed == Map("boom" -> "kaput"))
  }

  test("job selection by name; unknown names error") {
    val jobs = Seq(JobSpec("x", None, _ => ()), JobSpec("y", None, _ => ()))
    assert(EtlRunner.run(spark, jobs, Seq("y")).succeeded == Seq("y"))
    intercept[RuntimeException](EtlRunner.run(spark, jobs, Seq("nope")))
  }

  test("context write guard enforces the job's whitelist") {
    val dir = scratch.dir("etl")
    val jobs = Seq(
      JobSpec("writer", Some(Set("allowed")), ctx => {
        val df = Seq((1, "x")).toDF("id", "v")
        ctx.guard.writeTable(df, SchemaId("p", "d", "allowed"), s"$dir/t",
          SaveMode.Overwrite)
        // out-of-whitelist write must fail the job
        ctx.guard.writeTable(df, SchemaId("p", "d", "forbidden"), s"$dir/u",
          SaveMode.Overwrite)
      }))
    val report = EtlRunner.run(spark, jobs)
    assert(report.failed.keySet == Set("writer"))
    assert(spark.read.parquet(s"$dir/t").count() == 1)
    assert(!new java.io.File(s"$dir/u").exists())
  }

  test("dry-run context logs would-be writes instead of executing") {
    val dir = scratch.dir("etl2")
    var logged = List.empty[String]
    val jobs = Seq(JobSpec("dry", None, ctx =>
      ctx.guard.writeTable(Seq((1, "x")).toDF("id", "v"),
        SchemaId("p", "d", "t"), s"$dir/t", SaveMode.Overwrite)))
    val report = EtlRunner.run(spark, jobs, write = false, log = m => logged ::= m)
    assert(report.failed.isEmpty)
    assert(logged.exists(_.contains("DRY-RUN")))
    assert(!new java.io.File(s"$dir/t").exists())
  }
}
