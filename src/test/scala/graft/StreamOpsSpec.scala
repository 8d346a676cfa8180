package graft

import graft.streaming.StreamOps
import graft.streaming.StreamOps.{SessionEvent, SessionOut}

class StreamOpsSpec extends SparkTestBase {
  private val eventsSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
  }

  test("incrementalDedupStream: growing index catches pairs split across triggers") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // three files = three triggers; the planted near-dups (1,2) arrive in
    // DIFFERENT triggers and must still pair via the grown index
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val batchDir = scratch.dir("sdedup_batch")
    // the file-stream source lists FLAT files — stage each doc as one
    // part file directly under batchDir (one file = one trigger)
    def stage(doc: (Long, String), name: String): Unit = {
      val tmp = scratch.dir("sdedup_one")
      Seq(doc).toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Path.of(batchDir, name))
    }
    stage((1L, base), "f1.parquet")
    stage((2L, base + " extra"), "f2.parquet")
    stage((3L, "completely different words appear in this unrelated document body"),
      "f3.parquet")
    // index pre-seeded with an existing corpus doc that near-dups doc 2
    val idxDir = scratch.dir("sdedup_idx")
    graft.llm.TextDedup.bandedSignatures(
        Seq((10L, base + " indeed")).toDF("doc_id", "text"),
        k = 16, bands = 8, shingleW = 1)
      .write.mode("overwrite").parquet(idxDir)
    val got = StreamOps.incrementalDedupStream(spark, batchDir, idxDir,
        queryName = "sdedup_test", k = 16, bands = 8, shingleW = 1,
        portable = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch-mode truth over the same split
    val allBatch = Seq((1L, base), (2L, base + " extra"),
      (3L, "completely different words appear in this unrelated document body"))
      .toDF("doc_id", "text")
    val truth = graft.llm.TextDedup.incrementalCandidates(allBatch,
        graft.llm.TextDedup.bandedSignatures(
          Seq((10L, base + " indeed")).toDF("doc_id", "text"),
          k = 16, bands = 8, shingleW = 1),
        k = 16, bands = 8, shingleW = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth, s"stream $got vs batch $truth")
    // the cross-trigger pair and the vs-index pairs are all present
    assert(got.contains((1L, 2L)), s"cross-trigger pair missed: $got")
    assert(got.contains((1L, 10L)) && got.contains((2L, 10L)))
    assert(!got.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("sessionize: gap-based sessions per user via flatMapGroupsWithState") {
    import spark.implicits._
    val m = 1000000L // 1s in micros
    val events = Seq(
      SessionEvent(1L, 0 * m, "a"), SessionEvent(1L, 5 * m, "b"),
      SessionEvent(1L, 100 * m, "c"), SessionEvent(1L, 103 * m, "d"),
      SessionEvent(1L, 300 * m, "e"), // still open at end → not emitted
      SessionEvent(2L, 0 * m, "x"), SessionEvent(2L, 500 * m, "y")).toDS()
    val sessions = StreamOps.sessionize(spark, events, gapMicros = 30 * m)
      .collect().sortBy(s => (s.user_id, s.session_start)).toSeq
    assert(sessions == Seq(
      SessionOut(1L, 0 * m, 5 * m, 2),
      SessionOut(1L, 100 * m, 103 * m, 2),
      SessionOut(2L, 0 * m, 0 * m, 1)))
  }

  test("sessionizeBatch (window-function scale path) matches the state-based form") {
    import spark.implicits._
    val m = 1000000L
    // deliberately unsorted input: neither form may depend on arrival
    // order (the state-based form interval-merges, the window form sorts)
    val events = Seq(
      SessionEvent(1L, 103 * m, "d"), SessionEvent(1L, 0 * m, "a"),
      SessionEvent(1L, 300 * m, "e"), SessionEvent(1L, 5 * m, "b"),
      SessionEvent(1L, 100 * m, "c"),
      SessionEvent(2L, 500 * m, "y"), SessionEvent(2L, 0 * m, "x")).toDS()
    val batch = StreamOps.sessionizeBatch(spark, events, gapMicros = 30 * m)
      .collect().sortBy(s => (s.user_id, s.session_start)).toSeq
    val stateBased = StreamOps.sessionize(spark, events, gapMicros = 30 * m)
      .collect().sortBy(s => (s.user_id, s.session_start)).toSeq
    assert(batch == stateBased)
    assert(batch == Seq(
      SessionOut(1L, 0 * m, 5 * m, 2),
      SessionOut(1L, 100 * m, 103 * m, 2),
      SessionOut(2L, 0 * m, 0 * m, 1)))
  }

  test("sessionize: skewed user, shuffled order — interval merge, not group sort") {
    import spark.implicits._
    val m = 1000000L
    // one user owns 20k events forming 100 sessions of 200 events each
    // (1s spacing inside a session, 10min gaps between); a deterministic
    // shuffle destroys arrival order. The interval-merge fold keeps peak
    // live state at O(sessions), where the old sort-and-materialize held
    // all 20k rows; correctness here certifies the order-insensitive fold.
    val events = (for {
      sess <- 0 until 100
      i <- 0 until 200
    } yield SessionEvent(1L, (sess * 1000L + i) * m, "e"))
      .sortBy(e => (e.ts_micros * 2654435761L) % 1000003) // deterministic shuffle
      .toDS().repartition(4)
    val sessions = StreamOps.sessionize(spark, events, gapMicros = 30 * m)
      .collect().sortBy(_.session_start).toSeq
    // last session stays open → 99 emitted
    assert(sessions.size == 99)
    assert(sessions.forall(_.n_events == 200))
    assert(sessions.head == SessionOut(1L, 0L, 199 * m, 200))
    // events arriving in a LATER trigger merge across the stored state:
    // exercised by the cross-batch path in q107's AvailableNow run
  }

  test("sessionize: cross-interval bridge event merges two sessions") {
    import spark.implicits._
    val m = 1000000L
    // two clusters 50s apart (gap 30s would split), plus a bridge at 25s
    // arriving LAST: interval merge must fuse everything into one session
    val events = Seq(
      SessionEvent(1L, 0 * m, "a"), SessionEvent(1L, 50 * m, "b"),
      SessionEvent(1L, 999 * m, "z"), // later isolated event closes the merged one
      SessionEvent(1L, 25 * m, "bridge")).toDS()
    val sessions = StreamOps.sessionize(spark, events, gapMicros = 30 * m)
      .collect().toSeq
    assert(sessions == Seq(SessionOut(1L, 0 * m, 50 * m, 3)))
  }

  test("checkpointed resume processes only unseen files — exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val src = scratch.dir("ckpt_src")
    val ckpt = scratch.dir("ckpt_log")
    val out = scratch.dir("ckpt_out")
    val schema = StructType(Seq(StructField("id", LongType)))
    Seq(1L, 2L, 3L).toDF("id").coalesce(1).write.mode("append").parquet(src)
    StreamOps.checkpointedAppendRun(spark, src, schema, ckpt, out)
    val firstRun = spark.read.schema(schema).parquet(out).count()
    assert(firstRun == 3)
    // resume with the SAME checkpoint after new files land: the offset
    // log must skip everything already committed
    Seq(4L, 5L).toDF("id").coalesce(1).write.mode("append").parquet(src)
    StreamOps.checkpointedAppendRun(spark, src, schema, ckpt, out)
    val ids = spark.read.schema(schema).parquet(out)
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L, 5L), s"duplicate or lost rows: $ids")
  }

  test("left-outer stream join flushes the LAST anchor's null row (sentinel)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = scratch.dir("slo_src")
    def stage(name: String, mtime: Long,
        rows: Seq[(Long, java.time.LocalDateTime, Long, String)]): Unit = {
      val tmp = scratch.dir("slo_one")
      rows.toDF("event_id", "ts", "user_id", "event_type").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = java.nio.file.Path.of(dir, name)
      java.nio.file.Files.copy(part.toPath, dest)
      dest.toFile.setLastModified(mtime)
    }
    def at(d: Int, h: Int) = java.time.LocalDateTime.of(2024, 1, d, h, 0)
    val base = System.currentTimeMillis()
    // user 1: purchase with an in-window click; user 2: purchase with a
    // click OUTSIDE the 1-day window (>1 day earlier); user 3: purchase
    // at the stream's MAX real timestamp — the anchor a sentinel-less
    // bounded replay would starve in state forever.
    stage("00_data.parquet", base, Seq(
      (10L, at(5, 12), 1L, "purchase"), (11L, at(5, 2), 1L, "click"),
      (20L, at(5, 12), 2L, "purchase"), (21L, at(3, 12), 2L, "click"),
      (30L, at(9, 23), 3L, "purchase")))
    stage("01_sentinel.parquet", base + 10000, Seq(
      (-1L, at(28, 0), -1L, "purchase"), (-2L, at(28, 0), -1L, "click")))
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType)))
    val got = StreamOps.streamLeftOuterJoinAvailableNow(spark, dir, schema,
        anchorType = "purchase", otherType = "click", window = "1 DAY",
        queryName = "slo_test")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(got == Set((10L, 1L, 11L), (20L, 2L, -1L), (30L, 3L, -1L)),
      s"got $got")
  }

  test("left-outer stream join matches pairs split ACROSS triggers") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = scratch.dir("slo_x")
    def stage(name: String, mtime: Long,
        rows: Seq[(Long, java.time.LocalDateTime, Long, String)]): Unit = {
      val tmp = scratch.dir("slo_xone")
      rows.toDF("event_id", "ts", "user_id", "event_type").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = java.nio.file.Path.of(dir, name)
      java.nio.file.Files.copy(part.toPath, dest)
      dest.toFile.setLastModified(mtime)
    }
    def at(d: Int, h: Int) = java.time.LocalDateTime.of(2024, 2, d, h, 0)
    val base = System.currentTimeMillis()
    // the match spans the trigger boundary BOTH ways: user 1's click
    // arrives a batch BEFORE its purchase (click must survive in state
    // until the anchor lands), user 2's purchase arrives a batch BEFORE
    // its click (the unmatched anchor must wait in state, then pair
    // instead of emitting a premature null).
    stage("00_first.parquet", base, Seq(
      (11L, at(5, 2), 1L, "click"),
      (20L, at(5, 12), 2L, "purchase")))
    stage("01_second.parquet", base + 10000, Seq(
      (10L, at(5, 12), 1L, "purchase"),
      (21L, at(5, 13), 2L, "click")))
    stage("02_sentinel.parquet", base + 20000, Seq(
      (-1L, at(28, 0), -1L, "purchase"), (-2L, at(28, 0), -1L, "click")))
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType)))
    val got = StreamOps.streamLeftOuterJoinAvailableNow(spark, dir, schema,
        anchorType = "purchase", otherType = "click", window = "1 DAY",
        queryName = "slo_xbatch")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    // user 2's click is AFTER its purchase → outside the trailing-day
    // window → null row; user 1 pairs across the boundary.
    assert(got == Set((10L, 1L, 11L), (20L, 2L, -1L)), s"got $got")
  }

  test("stratifiedSampleStream: chop-invariant and equal to the batch rule") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = (0L until 120L).map(i => (i, s"src${i % 3}"))
    val batchDir = scratch.dir("ssamp_in")
    docs.toDF("doc_id", "source").repartition(6)
      .write.mode("overwrite").parquet(batchDir)
    val rates = Map("src0" -> 80, "src1" -> 30)
    def run(chop: Int): Set[(String, Long, Long, Long)] = {
      val out = scratch.dir("ssamp_out")
      StreamOps.stratifiedSampleStream(spark, batchDir, rates,
          defaultRate = 50, outDir = out, maxFilesPerTrigger = chop)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    }
    // one file per trigger vs three per trigger: different chopping,
    // identical sample — the keep decision is a pure row function
    val fine = run(1)
    val coarse = run(3)
    assert(fine == coarse, s"chop-dependent: $fine vs $coarse")
    // and both equal the one-shot batch rule
    val truth = docs.toDF("doc_id", "source")
      .join(broadcast(rates.toSeq.toDF("source", "rate")), Seq("source"), "left")
      .filter(pmod(graft.functions.BqShims.md5Bucket(col("doc_id")), lit(100L))
        < coalesce(col("rate"), lit(50)))
      .groupBy("source").agg(count(lit(1)).as("n"),
        min("doc_id").as("mn"), sum("doc_id").as("sm"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(fine == truth, s"stream $fine vs batch $truth")
  }

  test("windowedCountsAvailableNow reruns keep only the last output dir") {
    val runs = (1 to 3).map { _ =>
      val df = StreamOps.windowedCountsAvailableNow(spark, sfDir, eventsSchema,
        queryName = "stream_counts_rerun", globFilter = Some("events.parquet"))
      (df, java.nio.file.Paths.get(new java.net.URI(df.inputFiles.head)).getParent)
    }
    val dirs = runs.map(_._2)
    assert(dirs.distinct.size == 3, s"runs shared an output dir: $dirs")
    assert(dirs.init.forall(d => !java.nio.file.Files.exists(d)),
      s"earlier output dirs leaked: ${dirs.init.filter(java.nio.file.Files.exists(_))}")
    assert(java.nio.file.Files.isDirectory(dirs.last))
    assert(runs.last._1.count() == 150)
  }

  test("stateful runners cap the state partitions at the session's count") {
    val key = "spark.sql.shuffle.partitions"
    val two = spark.newSession()
    two.conf.set(key, "2")
    val df = StreamOps.windowedCountsAvailableNow(two, sfDir, eventsSchema,
      queryName = "stream_counts_cap", globFilter = Some("events.parquet"))
    val outDir = java.nio.file.Paths.get(new java.net.URI(df.inputFiles.head)).getParent
    val parts = outDir.toFile.listFiles().map(_.getName).filter(_.startsWith("part-"))
    assert(parts.length <= 2, s"more part files than state partitions: ${parts.toSeq}")
    assert(two.conf.get(key) == "2")
    assert(df.count() == 150)
  }

  test("streamStaticEnrichAvailableNow over a source with no file returns no rows") {
    import spark.implicits._
    val dim = Seq((0L, "zero"), (1L, "one")).toDF("n_nationkey", "n_name")
    val df = StreamOps.streamStaticEnrichAvailableNow(spark, sfDir, eventsSchema,
      keyExpr = org.apache.spark.sql.functions.pmod($"user_id", org.apache.spark.sql.functions.lit(2L)),
      dim = dim, dimKey = "n_nationkey", queryName = "stream_enrich_empty",
      globFilter = Some("no_such_table.parquet"))
    assert(df.columns.toSeq == eventsSchema.fieldNames.toSeq ++ Seq("n_nationkey", "n_name"))
    assert(df.count() == 0)
  }
}
