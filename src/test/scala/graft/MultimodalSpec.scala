package graft

import org.apache.spark.sql.functions._
import graft.llm.Multimodal

class MultimodalSpec extends SparkTestBase {

  test("PNG encode/decode round-trip recovers the closed-form pixels") {
    import spark.implicits._
    val docs = Seq(0L, 1L, 7L, 123L).toDF("doc_id")
    val png = Multimodal.syntheticPngMedia(spark, docs)
    // real codec bytes: PNG magic, not a text/slice fake
    val first = png.orderBy("doc_id").select("payload").head.getAs[Array[Byte]](0)
    assert(first.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
    val stats = Multimodal.decodeImageStats(spark, png).collect()
      .map(s => s.doc_id -> s).toMap
    // closed form for d=7: w=4+7%5=6, h=3+7%4=6
    val d7 = stats(7L)
    assert(d7.width == 6 && d7.height == 6)
    val expectedR = (for (y <- 0 until 6; x <- 0 until 6) yield (7 + 3 * x + 7 * y) % 256).sum
    val expectedB = (for (y <- 0 until 6; x <- 0 until 6) yield (7 + x * y) % 256).sum
    assert(d7.r_sum == expectedR && d7.b_sum == expectedB)
  }

  test("WAV round-trip: real javax.sound encode + decode matches closed-form samples") {
    import spark.implicits._
    val docs = spark.range(0, 20).toDF("doc_id")
    val wav = Multimodal.syntheticWavMedia(spark, docs)
    // container sanity: RIFF/WAVE magic, not a raw PCM slice
    val payload = wav.filter(col("doc_id") === 5L).select("payload")
      .as[Array[Byte]].head()
    assert(new String(payload.take(4), "US-ASCII") == "RIFF")
    assert(new String(payload.slice(8, 12), "US-ASCII") == "WAVE")
    val stats = Multimodal.decodeAudioStats(spark, wav).collect()
      .map(s => s.doc_id -> s).toMap
    // closed form for d=5: channels=1+5%2=2, nFrames=50+5%37=55
    val d5 = stats(5L)
    assert(d5.channels == 2 && d5.n_frames == 55)
    def sample(d: Long, i: Int, c: Int): Long = (31 * d + 7 * i + 13 * c) % 65536 - 32768
    assert(d5.sum_ch0 == (0 until 55).map(sample(5, _, 0)).sum)
    assert(d5.sum_ch1 == (0 until 55).map(sample(5, _, 1)).sum)
    // mono doc: channel 1 sum must be zero
    val d4 = stats(4L)
    assert(d4.channels == 1 && d4.sum_ch1 == 0L)
    assert(d4.sum_ch0 == (0 until (50 + 4 % 37)).map(sample(4, _, 0)).sum)
  }

  test("animated-GIF round-trip: real multi-frame encode + strided sample decode") {
    import spark.implicits._
    val docs = spark.range(0, 25).toDF("doc_id")
    val gif = Multimodal.syntheticGifMedia(spark, docs)
    // container sanity: GIF89a magic, not a byte-slice fake
    val payload = gif.filter(col("doc_id") === 7L).select("payload")
      .as[Array[Byte]].head()
    assert(new String(payload.take(6), "US-ASCII") == "GIF89a")
    val stats = Multimodal.decodeVideoFrameStats(spark, gif, stride = 2)
      .collect().map(s => s.doc_id -> s).toMap
    // closed form for d=7: w=16+7%3=17, h=12+7%4=15, nf=3+7%5=5 -> sampled f=0,2,4
    val d7 = stats(7L)
    assert(d7.n_frames == 5 && d7.n_sampled == 3)
    val expected = (for {
      f <- Seq(0, 2, 4); y <- 0 until 15; x <- 0 until 17
    } yield ((7 + x + 2 * y + 3 * f) % 4) * 85).sum
    assert(d7.gray_sum == expected)
    // stride larger than the clip still samples frame 0
    val one = Multimodal.decodeVideoFrameStats(spark, gif, stride = 100)
      .collect()
    assert(one.forall(_.n_sampled == 1))
  }

  test("decodeImageStats is iterator-based: rows stream, payloads are not retained") {
    // many docs in ONE partition: if the partition's payloads were
    // materialized, this would be ~200 images held at once; the iterator
    // contract means peak live payloads stay O(1). Proxy check: the
    // decode succeeds in a single partition and yields one row per doc.
    val docs = spark.range(0, 200).toDF("doc_id").coalesce(1)
    val png = Multimodal.syntheticPngMedia(spark, docs).coalesce(1)
    val n = Multimodal.decodeImageStats(spark, png).count()
    assert(n == 200)
  }
}
