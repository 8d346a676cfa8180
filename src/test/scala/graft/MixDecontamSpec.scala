package graft

import org.apache.spark.sql.functions._
import graft.llm.{Decontaminate, MixtureSample, TextDedup}

class MixDecontamSpec extends SparkTestBase {
  import spark.implicits._

  test("ngrams: sliding window, short docs fall back to whole text") {
    val got = Seq(("a b c d", 1), ("a b", 2)).toDF("text", "k")
      .select(col("k"), array_distinct(TextDedup.shingles(col("text"), 3)).as("g"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    assert(got(1) == Seq("a b c", "b c d"))
    assert(got(2) == Seq("a b"))
  }

  test("report flags verbatim leak, ignores disjoint text") {
    val corpus = Seq((1L, "the quick brown fox jumps high"),
      (2L, "entirely different words here now")).toDF("doc_id", "text")
    val eval = Seq(Tuple1("the quick brown fox sleeps")).toDF("text")
    val got = Decontaminate.report(corpus, eval, n = 3, flagRatio = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(4))).toSet
    // doc 1: grams {the quick brown, quick brown fox, brown fox jumps,
    // fox jumps high}; eval shares the first two → 2/4 = 0.5 ≥ 0.4
    assert(got == Set((1L, 4L, 2L, 1), (2L, 3L, 0L, 0)))
  }

  test("mixture sample: exact quotas, deterministic across runs") {
    val docs = (1L to 100L).map(i => (i, if (i <= 60) "web" else "code"))
      .toDF("doc_id", "source")
    val once = MixtureSample.sample(spark, docs, Map("web" -> 5, "code" -> 70))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val twice = MixtureSample.sample(spark, docs, Map("web" -> 5, "code" -> 70))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(once.sorted.toSeq == twice.sorted.toSeq)
    val bySource = once.groupBy(_._2)
    assert(bySource("web").length == 5)       // quota met exactly
    assert(bySource("code").length == 40)     // short source: all it has
    assert(bySource("code").map(_._3).sorted.toSeq == (1L to 40L))
  }
}
