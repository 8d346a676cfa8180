package graft

import org.apache.spark.sql.functions._
import graft.operators.Scd2

class Scd2Spec extends SparkTestBase {
  import spark.implicits._

  private def dim() = {
    // user 1: a->a->b->a (dup extends, then two changes);
    // user 2: x only (one open episode)
    val log = Seq(
      (1L, 10L, 100L, "a"), (1L, 20L, 101L, "a"), (1L, 30L, 102L, "b"),
      (1L, 40L, 103L, "a"), (2L, 15L, 104L, "x"))
      .toDF("user_id", "tsm", "event_id", "segment")
    Scd2.build(log, "user_id", "segment", Seq("tsm", "event_id"))
  }

  test("episodes: change detection, bounds, versions, is_current") {
    val rows = dim().orderBy("user_id", "version")
      .select("user_id", "segment", "valid_from", "valid_to", "is_current",
        "version")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(4),
        r.getLong(5)))
    assert(rows.toSeq == Seq(
      (1L, "a", 10L, Some(30L), false, 1L),
      (1L, "b", 30L, Some(40L), false, 2L),
      (1L, "a", 40L, None, true, 3L),
      (2L, "x", 15L, None, true, 1L)))
  }

  test("the whole build is a single exchange (one shuffle by key)") {
    val ev = graft.util.Tables.t(spark, sfDir, "events")
      .select(col("user_id"), graft.functions.BqShims.epochMicros(col("ts")).as("tsm"),
        col("event_id"), col("event_type").as("segment"))
    val built = Scd2.build(ev, "user_id", "segment", Seq("tsm", "event_id"))
    val plan = built.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges:\n$plan")
    assert(built.count() > 0)
  }
}
