package graft

import graft.sources.DapCollect
import graft.sources.DapCollect.{CollectResult, CollectTask}
import graft.operators.VdafParse

/** Exercises the DAP collection loop against a fake `collect` script
  * (mirrors dap_collector/main.py:33-148 behaviors: happy path, batch
  * too small, timeout, unknown-output failure, parallel sweep). */
class DapCollectSpec extends SparkTestBase {

  /** Write an executable fake-collect shell script and return its path. */
  private def fakeCollect(body: String): String = {
    val f = java.nio.file.Paths.get(scratch.dir("fake_collect"), "collect.sh")
    java.nio.file.Files.writeString(f, s"#!/bin/sh\n$body\n")
    f.toFile.setExecutable(true)
    f.toString
  }

  private val sumvecTask =
    CollectTask("task-a", "counts", "sumvec", Seq("length" -> "4", "bits" -> "8"))

  test("interval starts floor-align and stay fully inside the window") {
    assert(DapCollect.intervalStarts(0, 1200, 300) == Seq(0, 300, 600, 900))
    // misaligned from: first slot aligns UP so it starts inside the window
    assert(DapCollect.intervalStarts(100, 1200, 300) == Seq(300, 600, 900))
    // window shorter than one interval → nothing collectible
    assert(DapCollect.intervalStarts(0, 299, 300) == Seq.empty)
  }

  test("happy path: sumvec aggregation + report count parsed from stdout") {
    // the fake echoes a result derived from --batch-interval-start so
    // every interval row is distinguishable
    val bin = fakeCollect(
      """while [ "$1" != "--batch-interval-start" ]; do shift; done
        |S=$2
        |echo "Aggregation result: [$S, 2, 3, 4]"
        |echo "Number of reports: 7"
        |echo "Interval start: ignored"""".stripMargin)
    val r = DapCollect.collectOnce(bin, sumvecTask, slotStart = 300, duration = 300)
    assert(r == CollectResult("task-a", "counts", 300, r.collection_duration,
      Some(7L), Seq(300L, 2L, 3L, 4L), None))
  }

  test("sum VDAF parses a scalar into a one-element vector") {
    val bin = fakeCollect("echo \"Aggregation result: 42\"\necho \"Number of reports: 1\"")
    val r = DapCollect.collectOnce(bin,
      CollectTask("t", "m", "sum", Seq.empty), 0, 300)
    assert(r.value == Seq(42L) && r.error.isEmpty)
  }

  test("batch-too-small exit 1 becomes a marker row, not a failure") {
    val bin = fakeCollect(
      """echo "Error: HTTP response status 400 Bad Request - The number of reports included in the batch is invalid." >&2
        |exit 1""".stripMargin)
    val r = DapCollect.collectOnce(bin, sumvecTask, 0, 300)
    assert(r.error.contains("BATCH TOO SMALL") && r.value.isEmpty)
  }

  test("timeout kills the subprocess and records TIMEOUT") {
    val bin = fakeCollect("sleep 30")
    val r = DapCollect.collectOnce(bin, sumvecTask, 0, 300, timeoutMillis = 300)
    assert(r.error.contains("TIMEOUT"))
    assert(r.collection_duration < 10.0)
  }

  test("retries re-run transient failures; attempt count is bounded") {
    // fails on the first run, succeeds when the retry marker file exists
    val marker = java.nio.file.Paths.get(scratch.dir("dap_retry"))
      .resolve("tried").toString
    val bin = fakeCollect(
      s"""if [ -f "$marker" ]; then
         |  echo "Aggregation result: 9"
         |  echo "Number of reports: 2"
         |else
         |  touch "$marker"
         |  echo "transient leader error" >&2
         |  exit 1
         |fi""".stripMargin)
    val task = CollectTask("t", "m", "sum", Seq.empty)
    val once = DapCollect.collectOnce(bin, task, 0, 300, attempts = 1)
    assert(once.error.exists(_.startsWith("UNHANDLED ERROR")))
    java.nio.file.Files.deleteIfExists(java.nio.file.Path.of(marker))
    val retried = DapCollect.collectOnce(bin, task, 0, 300, attempts = 2)
    assert(retried.error.isEmpty && retried.value == Seq(9L))
  }

  test("collectMany sweeps tasks x intervals in parallel into a DataFrame") {
    val bin = fakeCollect(
      """while [ "$1" != "--task-id" ]; do shift; done
        |T=$2
        |while [ "$1" != "--batch-interval-start" ]; do shift; done
        |S=$2
        |echo "Aggregation result: $S"
        |echo "Number of reports: 3"""".stripMargin)
    val tasks = Seq(CollectTask("a", "m", "sum", Seq.empty),
      CollectTask("b", "m", "sum", Seq.empty))
    val results = DapCollect.collectMany(bin, tasks, from = 0, until = 900,
      intervalLength = 300, workers = 4)
    assert(results.size == 6) // 2 tasks x 3 intervals
    val df = DapCollect.toDf(spark, results)
    assert(df.schema == DapCollect.resultSchema)
    import org.apache.spark.sql.functions._
    val bySlot = df.filter(col("task_id") === "a")
      .orderBy("slot_start").select("value").collect()
      .map(_.getSeq[Long](0).head).toSeq
    assert(bySlot == Seq(0L, 300L, 600L))
  }

  test("field-prime wraparound composes with the collection output") {
    // a sumvec entry above 2^127 is a wrapped negative: field elements
    // exceed Long, so prime-field pipelines hand the raw aggregation
    // string to VdafParse instead of collectOnce's long parser
    val big = (VdafParse.FieldPrime - 5).toString
    val parsed = VdafParse.parseHistogram(s"[$big]")
    assert(parsed(0) == BigInt(-5))
  }
}
