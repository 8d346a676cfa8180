package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.streaming.StreamOps
import graft.util.Hold

/** `Hold` owns materialized frames: a scope releases what was held in it
  * when it returns or throws, a trigger of a bounded stream is a scope,
  * a pin outlives its scope and is made once, and a hold made with no
  * scope open is left to the ContextCleaner. */
class HoldSpec extends SparkTestBase {
  import spark.implicits._

  private def sc = spark.sparkContext
  private def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet

  /** The id of the RDD that holds `held`'s rows: the one it added. */
  private def holding(before: Set[Int]): Int = {
    val added = persisted -- before
    assert(added.size == 1, s"one hold should persist one RDD: $added")
    added.head
  }

  test("a scope releases its holds when it returns") {
    val before = persisted
    val n = Hold.scope {
      val held = Hold(Seq(1L, 2L, 3L).toDF("id").filter($"id" > 1L))
      holding(before)
      held.count()
    }
    assert(n == 2)
    assert(persisted == before)
  }

  test("a scope releases its holds when it throws") {
    val before = persisted
    intercept[IllegalStateException] {
      Hold.scope {
        Hold(Seq(1L, 2L).toDF("id"))
        holding(before)
        throw new IllegalStateException("query failed")
      }
    }
    assert(persisted == before)
  }

  test("nested scopes release their own holds, a pool thread holds into the caller's") {
    val before = persisted
    Hold.scope {
      Hold(Seq(1L).toDF("id"))
      val outer = holding(before)
      Hold.scope(Hold(Seq(2L).toDF("id")))
      assert(persisted -- before == Set(outer))
      val scope = Hold.current
      val t = new Thread(() => Hold.within(scope)(Hold(Seq(3L).toDF("id"))): Unit)
      t.start(); t.join()
      assert((persisted -- before).size == 2)
    }
    assert(persisted == before)
  }

  test("a hold made inside a runBounded trigger is gone when the trigger ends") {
    val dir = scratch.dir("hold_stream")
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val before = persisted
    val seen = new ConcurrentLinkedQueue[Set[Int]]()
    StreamOps.runBounded(spark.readStream.schema(schema).parquet(dir), "append", 2) {
      (batch: DataFrame, _: Long) =>
        val held = Hold(batch.select("doc_id"))
        seen.add(persisted -- before)
        assert(held.count() == 2)
    }
    assert(seen.size == 1 && seen.peek().size == 1, seen)
    assert(persisted == before)
  }

  test("a pin survives its scope, and a second Hold.pin with the same key runs no job") {
    val key = "png|HoldSpec"
    val before = persisted
    var made = 0
    def make(): DataFrame = { made += 1; Seq(1L, 2L).toDF("id") }
    val first = Hold.scope(Hold.pin(spark, key)(make()))
    val pinId = holding(before)
    assert(Hold.pinned(sc).contains(pinId))
    assert(!Hold.loose(sc).contains(pinId))

    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.add(Option(e.properties.getProperty("spark.jobGroup.id")).getOrElse("")); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("second-pin", "second pin")
      val second = Hold.scope(Hold.pin(spark, key)(make()))
      // a marker job: once the listener has seen it, it has seen every
      // job started before it
      sc.setJobGroup("marker", "marker")
      spark.range(1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!jobs.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.contains("marker"))
      assert(!jobs.contains("second-pin"), jobs)
      assert(second eq first)
      assert(made == 1)
      assert(second.count() == 2)
    } finally sc.removeSparkListener(listener)
    assert(persisted -- before == Set(pinId))
  }

  test("a pin name outside the named list is refused") {
    intercept[IllegalArgumentException](Hold.pin(spark, "scratchpad|HoldSpec")(Seq(1L).toDF("id")))
  }

  test("a hold made with no scope open stays persisted, as today") {
    assert(Hold.current.isEmpty)
    val before = persisted
    val held = Hold(Seq(1L, 2L).toDF("id"))
    val id = holding(before)
    assert(held.count() == 2)
    assert(persisted.contains(id))
    sc.getPersistentRDDs(id).unpersist(blocking = true)
  }
}
