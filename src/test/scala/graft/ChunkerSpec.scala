package graft

import graft.llm.Chunker

class ChunkerSpec extends SparkTestBase {
  import spark.implicits._

  test("overlapping windows with stride, tail fragment dropped") {
    // 10 tokens, window 4, stride 3, minTokens 2:
    // starts 0,3,6,9 → chunks [t0..t3] [t3..t6] [t6..t9] [t9] (len 1 < 2 dropped)
    val docs = Seq((1L, (0 until 10).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Chunker.chunk(docs, window = 4, stride = 3, minTokens = 2)
      .orderBy("chunk_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    assert(got.toSeq == Seq((1L, 0L, 0, 4), (1L, 1L, 3, 4), (1L, 2L, 6, 4)))
  }

  test("chunk hash is the md5 of the joined chunk text (chunk-level dedup key)") {
    val docs = Seq(
      (1L, "a b c d e f"), // chunks: "a b c d" and "e f" (start 4, window 4)
      (2L, "x y e f")      // chunk "x y e f" — shares no chunk with doc 1
    ).toDF("doc_id", "text")
    val rows = Chunker.chunk(docs, window = 4, stride = 4, minTokens = 2)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getString(4))).toSeq
    val md5Of = (s: String) => {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    assert(rows.contains((1L, 0, md5Of("a b c d"))))
    assert(rows.contains((1L, 4, md5Of("e f"))))
    assert(rows.contains((2L, 0, md5Of("x y e f"))))
    // identical text → identical hash regardless of doc: duplicate chunk
    // detection is a plain group-by on chunk_hash
    val dupDocs = Seq((10L, "p q r s"), (11L, "p q r s")).toDF("doc_id", "text")
    val hashes = Chunker.chunk(dupDocs, 4, 4, 2)
      .select("chunk_hash").as[String].collect()
    assert(hashes.distinct.length == 1)
  }

  test("no shuffle in the plan: chunking stays inside the scan stage") {
    val docs = graft.util.Tables.t(spark, sfDir, "documents")
    val plan = Chunker.chunk(docs, 32, 16, 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("short doc below minTokens yields nothing; exact-window doc yields one chunk") {
    val docs = Seq((1L, "a b"), (2L, "a b c d")).toDF("doc_id", "text")
    val got = Chunker.chunk(docs, window = 4, stride = 4, minTokens = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3))).toSeq
    assert(got == Seq((2L, 4)))
  }
}
