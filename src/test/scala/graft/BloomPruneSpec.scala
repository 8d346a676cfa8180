package graft

import graft.operators.BloomPrune

class BloomPruneSpec extends SparkTestBase {
  import spark.implicits._

  test("no false negatives ever: every build key passes its own filter") {
    val keys = (1L to 500L).toDF("k")
    val f = BloomPrune.build(keys, "k", k = 4, m = 1024)
    val cand = BloomPrune.candidates(keys, "k", f, k = 4, m = 1024)
    assert(cand.count() === 500)
  }

  test("false positive rate is near the analytic (1-e^{-kn/m})^k") {
    val members = (1L to 300L).toDF("k")
    val probes = (10001L to 13000L).toDF("k") // disjoint from members
    val (kk, m) = (4, 4096)
    val f = BloomPrune.build(members, "k", kk, m)
    val fp = BloomPrune.candidates(probes, "k", f, kk, m).count()
    val bitsSet = f.count().toDouble
    val expected = math.pow(bitsSet / m, kk) // exact lit-fraction^k
    val got = fp.toDouble / 3000
    assert(math.abs(got - expected) < 0.02,
      s"fp rate $got vs expected $expected (bits=$bitsSet)")
  }

  test("filter survives parquet and prunes the same set") {
    val members = (1L to 200L).toDF("k")
    val probes = (1L to 2000L).toDF("k")
    val f = BloomPrune.build(members, "k", 4, 2048)
    val dir = scratch.dir("bloom")
    f.write.mode("overwrite").parquet(dir)
    val a = BloomPrune.candidates(probes, "k", f, 4, 2048)
      .as[Long].collect().sorted.toSeq
    val b = BloomPrune.candidates(probes, "k", spark.read.parquet(dir), 4, 2048)
      .as[Long].collect().sorted.toSeq
    assert(a === b)
  }

  test("probe side gets the filter broadcast, not shuffled") {
    val members = (1L to 100L).toDF("k")
    val probes = (1L to 1000L).toDF("k")
    val plan = BloomPrune.candidates(probes, "k",
        BloomPrune.build(members, "k", 4, 1024), 4, 1024)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast probe join:\n$plan")
  }
}
