package graft

import org.apache.spark.sql.functions._
import graft.llm.{PrepPipeline, SemDedup}

class PrepSemDedupSpec extends SparkTestBase {
  import spark.implicits._

  private def vecDf(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("signCell: bit i follows the sign of dim i") {
    val df = vecDf(
      1L -> Seq(1f, -1f, 1f, -1f, -1f, -1f, -1f, -1f),
      2L -> Seq(-1f, 1f, 1f, 1f, -1f, -1f, -1f, -1f))
      .select(col("vec_id"), SemDedup.signCell(col("embedding"), 8).as("cell"))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == (1L | 4L)) // dims 0,2 positive
    assert(got(2L) == (2L | 4L | 8L))
  }

  test("dedup keeps min id per neighborhood, distinct cells never compare") {
    // 1 and 2: same cell, near-identical -> 2 dropped. 3: same cell,
    // orthogonal-ish -> kept. 4: different cell entirely -> kept even
    // though it's a scaled copy of 1 (cell partition blocks the pair).
    val df = vecDf(
      1L -> Seq(1f, 1f, 0.1f, 0.1f, 1f, 1f, 1f, 1f),
      2L -> Seq(1f, 1f, 0.1f, 0.11f, 1f, 1f, 1f, 1f),
      3L -> Seq(0.1f, 0.1f, 1f, 1f, 0.1f, 0.1f, 0.1f, 100f),
      4L -> Seq(-1f, -1f, -0.1f, -0.1f, -1f, -1f, -1f, -1f))
    val got = SemDedup.dedup(df, tau = 0.9, signBits = 8)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got == Map(1L -> 1, 2L -> 0, 3L -> 1, 4L -> 1))
  }

  test("dedup two-phase float prune is bit-identical to single-phase decimal") {
    import graft.llm.Ann
    val rnd = new scala.util.Random(42)
    val base = (1L to 60L).map { i =>
      i -> Seq.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)
    }
    // near-dup copies that straddle the tau boundary
    val rows = base ++ base.take(10).map { case (i, v) =>
      (i + 100L) -> v.updated(0, v.head + 1e-4f)
    }
    val df = vecDf(rows: _*)
    val got = SemDedup.dedup(df, tau = 0.95, signBits = 4)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    // reference: the pre-r10 single-phase decimal-only pipeline
    val b2 = df.select(col("vec_id"), col("embedding"),
      SemDedup.signCell(col("embedding"), 4).as("cell"),
      Ann.norm2Exact(col("embedding")).as("n2"))
    val a = b2.select(col("cell"), col("vec_id").as("aid"),
      col("embedding").as("ae"), col("n2").as("an2"))
    val b = b2.select(col("cell"), col("vec_id").as("bid"),
      col("embedding").as("be"), col("n2").as("bn2"))
    val prior = a.join(b, Seq("cell")).filter(col("aid") < col("bid"))
      .withColumn("cosine",
        Ann.cosineFrom(Ann.dotExact(col("ae"), col("be")), col("an2"), col("bn2")))
      .filter(col("cosine") >= 0.95)
      .groupBy(col("bid").as("vec_id")).agg(max(col("cosine")).as("max_prior_cos"))
    val ref = b2.join(prior, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("max_prior_cos").isNull, 1).otherwise(0).as("kept"),
        round(col("max_prior_cos"), 6).as("max_prior_cos"))
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(got == ref)
    assert(got.count(_(2) == 0) >= 10) // the planted near-dups were dropped
  }

  test("signBitsFor holds expected occupancy as the corpus grows") {
    assert(SemDedup.signBitsFor(2000) == 5)
    assert(SemDedup.signBitsFor(200000) == 12)
    assert(SemDedup.signBitsFor(10) == 4) // floor
    assert(SemDedup.signBitsFor(Long.MaxValue) == 20) // cap
  }

  test("prep pipeline audit: funnel is monotone and stages apply in order") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again ok", "en", 200L),
      (2L, "the quick brown fox jumps over the lazy dog again and again ok", "en", 200L),
      (3L, "short", "en", 5L),
      (4L, "el zorro rapido salta sobre el perro se duerme pronto hoy si", "es", 200L))
      .toDF("doc_id", "text", "lang", "n_chars")
    val audit = PrepPipeline.auditOnePass(docs, Seq(
        "min_length" -> (col("n_chars") >= 100),
        "lang_en" -> (col("lang") === "en")),
      dedupKey = Some("exact_dedup" -> md5(lower(col("text")))))
      .orderBy("stage_idx")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(audit.toSeq == Seq(
      (0, "raw", 4L), (1, "min_length", 3L), (2, "lang_en", 2L),
      (3, "exact_dedup", 1L)))
  }

  test("seqpack: token totals conserved per shard, bins dense from 0") {
    import graft.llm.{SeqPack, TextStats}
    val docs = (1L to 200L).map(i => (i, ("tok " * (1 + (i % 7).toInt)).trim))
      .toDF("doc_id", "text")
    val packed = SeqPack.pack(docs, TextStats.tokenCount(col("text")),
      seqLen = 16, nShards = 4).cache()
    try {
      val perShard = packed.groupBy("shard")
        .agg(sum("n_tok").as("tok"), max("bin").as("maxBin"),
          countDistinct("bin").as("nBins"), min("bin").as("minBin"))
        .collect()
      assert(perShard.length == 4)
      perShard.foreach { r =>
        assert(r.getLong(4) == 0L) // first bin is 0
        // no doc exceeds seqLen here, so bins are contiguous
        assert(r.getLong(3) == r.getLong(2) + 1)
      }
      // conservation: packed tokens == raw tokens
      val raw = docs.select(TextStats.tokenCount(col("text")).cast("long").as("n"))
        .agg(sum("n")).collect()(0).getLong(0)
      assert(perShard.map(_.getLong(1)).sum == raw)
    } finally packed.unpersist()
  }
}
