package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog.{SchemaId, WriteGuard}
import graft.util.Scratch

/** `graft.Main`'s job packs write their tables concurrently; these pin
  * that the concurrent path writes every table, fails like the
  * sequential one did and leaves no pool thread behind. */
class MainPackSpec extends SparkTestBase {
  import spark.implicits._

  private def poolThreads(prefix: String): Set[String] =
    Thread.getAllStackTraces.keySet.asScala.map(_.getName).filter(_.startsWith(prefix)).toSet

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("webcompat-kb and llm-prep write all 8 tables, each equal to its query") {
    val out = scratch.dir("graft_packs")
    val report = EtlRunner.run(spark, Main.registry(sfDir, out), Seq("webcompat-kb", "llm-prep"))
    assert(report.failed.isEmpty, report.errors.values.map(EtlRunner.describe).mkString("\n"))
    assert(report.succeeded == Seq("webcompat-kb", "llm-prep"))
    val tables = Main.registry(sfDir, out)
      .filter(j => report.succeeded.contains(j.name))
      .flatMap(j => j.writeTargets.get.toSeq.map(j.name -> _))
    assert(tables.size == 8)
    tables.foreach { case (job, q) =>
      val path = s"$out/${SchemaId("graft", job.replace('-', '_'), q).sparkName}"
      assert(new java.io.File(path, "_SUCCESS").exists(), path)
      val expected = SparkEntry.queries(q)(spark, sfDir)
      val written = spark.read.parquet(path)
      assert(written.schema.fieldNames.sorted.toSeq == expected.schema.fieldNames.sorted.toSeq, q)
      val cols = expected.schema.fieldNames.toSeq
      assert(rows(written.select(cols.map(written.col): _*)) == rows(expected), q)
    }
    assert(poolThreads("graft-pack-").isEmpty)
  }

  test("a failing query fails its pack with its own root cause after its siblings finish") {
    val out = scratch.dir("graft_packfail")
    val boom: (SparkSession, String) => DataFrame = (_, _) =>
      throw new IllegalStateException("build failed", new java.io.IOException("disk gone"))
    val qs = Seq("q70_exact_dedup", "boom", "q89_prep_pipeline")
    val pack = Main.pack("fail-probe", qs, sfDir, out, SparkEntry.queries + ("boom" -> boom))
    val report = EtlRunner.run(spark, Seq(pack))
    assert(report.failed == Map("fail-probe" -> "build failed"))
    val err = report.errors("fail-probe")
    assert(err.isInstanceOf[IllegalStateException])
    assert(EtlRunner.describe(err) == "java.lang.IllegalStateException: build failed " +
      "(root cause java.io.IOException: disk gone)")
    Seq("q70_exact_dedup", "q89_prep_pipeline").foreach { q =>
      val path = s"$out/${SchemaId("graft", "fail_probe", q).sparkName}"
      assert(new java.io.File(path, "_SUCCESS").exists(), s"sibling $q was not written")
    }
    assert(poolThreads("graft-pack-fail-probe-").isEmpty)
  }

  test("concurrent tasks of a pack do not share temp views") {
    val out = Scratch.fresh("pack_iso")
    // both tasks register `pack_probe` before either reads it back
    val registered = new CountDownLatch(2)
    def probe(v: Int): (SparkSession, String) => DataFrame = (s, _) => {
      s.range(1).selectExpr(s"$v AS v").createOrReplaceTempView("pack_probe")
      registered.countDown()
      if (!registered.await(60, TimeUnit.SECONDS)) sys.error("the sibling task never started")
      s.table("pack_probe")
    }
    val qs = Map("probe_a" -> probe(1), "probe_b" -> probe(2))
    try {
      val report = EtlRunner.run(spark, Seq(Main.pack("iso-probe", qs.keys.toSeq.sorted, sfDir, out, qs)))
      assert(report.failed.isEmpty, report.failed)
      Seq("probe_a" -> 1, "probe_b" -> 2).foreach { case (q, v) =>
        val path = s"$out/${SchemaId("graft", "iso_probe", q).sparkName}"
        assert(spark.read.parquet(path).as[Int].collect().toSeq == Seq(v), q)
      }
      assert(!spark.catalog.tableExists("pack_probe"), "a task's view leaked into the pack's session")
    } finally Scratch.delete(out)
  }

  test("the first failure in registration order is the one reported") {
    // the later task fails first; the earlier one fails after it
    val later = new CountDownLatch(1)
    val tasks = Seq[() => Unit](
      () => { later.await(); sys.error("first in order") },
      () => { try sys.error("first in time") finally later.countDown() })
    val e = intercept[RuntimeException](Main.runAll("graft-order-probe", 2, tasks))
    assert(e.getMessage == "first in order")
    assert(poolThreads("graft-order-probe-").isEmpty)
  }

  test("a --no-write llm-prep run logs exactly 7 DRY-RUN lines, every time") {
    val guards = new ConcurrentLinkedQueue[WriteGuard]()
    val registry = Main.registry(sfDir, "/nonexistent").map(j =>
      j.copy(body = ctx => { guards.add(ctx.guard); j.body(ctx) }))
    (1 to 5).foreach { run =>
      val logged = new ConcurrentLinkedQueue[String]()
      guards.clear()
      val report = EtlRunner.run(spark, registry, Seq("llm-prep"), write = false,
        log = m => logged.add(m))
      assert(report.failed.isEmpty, s"run $run: ${report.failed}")
      assert(logged.asScala.count(_.startsWith("DRY-RUN")) == 7, s"run $run")
      assert(guards.asScala.toSeq.map(_.dryRunLog.size) == Seq(7), s"run $run")
    }
  }

  test("concurrent dry-run writes through one guard lose no log entry") {
    val guard = WriteGuard(write = false, log = _ => ())
    val df = Seq((1, "x")).toDF("id", "v")
    val tasks = (0 until 8).map { w => () =>
      (0 until 250).foreach(i =>
        guard.writeTable(df, SchemaId("p", "d", s"t${w}_$i"), "/nonexistent",
          org.apache.spark.sql.SaveMode.Overwrite))
    }
    Main.runAll("graft-guard-probe", 8, tasks)
    assert(guard.dryRunLog.size == 2000)
    assert(guard.dryRunLog.distinct.size == 2000)
  }
}
