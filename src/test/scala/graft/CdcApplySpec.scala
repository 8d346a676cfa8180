package graft

import org.apache.spark.sql.execution.{RangeExec, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import graft.operators.CdcApply

class CdcApplySpec extends SparkTestBase {
  import spark.implicits._

  private val snap = Seq((1L, "a"), (2L, "b"), (3L, "c"))
    .toDF("k", "v")

  test("latest-wins with out-of-order seq, tombstones, inserts, pass-through") {
    // key 1: U@2 then D@1 (out of order) -> U wins -> updated
    // key 2: D@5 -> deleted
    // key 4: I-style U on a key absent from snapshot -> inserted
    // key 3: untouched -> passes through
    val ch = Seq(
      (1L, 1L, "D", null.asInstanceOf[String]),
      (1L, 2L, "U", "a2"),
      (2L, 5L, "D", null.asInstanceOf[String]),
      (4L, 1L, "U", "d1"))
      .toDF("k", "seq", "op", "v")
    val out = CdcApply(snap, ch, "k", Seq("seq"))
      .orderBy("k").as[(Long, String, Boolean)].collect().toSeq
    assert(out == Seq((1L, "a2", true), (3L, "c", false), (4L, "d1", true)))
  }

  test("exact seq tie: update beats delete (documented ASCII tiebreak)") {
    val ch = Seq(
      (1L, 7L, "D", null.asInstanceOf[String]),
      (1L, 7L, "U", "tie"))
      .toDF("k", "seq", "op", "v")
    val out = CdcApply(snap, ch, "k", Seq("seq"))
      .filter(col("k") === 1L).as[(Long, String, Boolean)].collect().toSeq
    assert(out == Seq((1L, "tie", true)))
  }

  test("idempotent re-apply: folding the same changelog twice is a no-op") {
    val ch = Seq((1L, 2L, "U", "a2"), (2L, 5L, "D", null.asInstanceOf[String]))
      .toDF("k", "seq", "op", "v")
    val once = CdcApply(snap, ch, "k", Seq("seq")).drop("from_change")
    val twice = CdcApply(once, ch, "k", Seq("seq")).drop("from_change")
    assert(once.orderBy("k").collect().toSeq ==
      twice.orderBy("k").collect().toSeq)
  }

  test("snapshot is windowed never: only the changelog hits a window exchange") {
    val snapBig = spark.range(10000).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v"))
    val ch = Seq((1L, 1L, "U", "x")).toDF("k", "seq", "op", "v")
    val plan = CdcApply(snapBig, ch, "k", Seq("seq")).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // the changelog distillation reads only the changelog; above the
    // snapshot's scan (the Range) there is no window, sort, aggregate or
    // shuffle — it anti-joins the tiny verdict via broadcast
    val overSnapshot = plan.collect {
      case p if p.collectLeaves().exists(_.isInstanceOf[RangeExec]) => p
    }
    assert(overSnapshot.forall {
      case _: WindowExec | _: SortExec | _: BaseAggregateExec | _: ShuffleExchangeExec => false
      case _ => true
    }, plan)
    assert(plan.toString.contains("LeftAnti"), plan)
    assert(plan.toString.contains("BroadcastHashJoin"), plan)
  }
}
