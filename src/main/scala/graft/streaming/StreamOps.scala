package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType, TimestampType}
import graft.util.Scratch

/** Structured Streaming equivalents of the reference's batch-watermark
  * jobs (SURVEY §2.11: "optionally Trigger.AvailableNow streaming for
  * the rollup"). The reference has no true streaming; this is the
  * Spark-native upgrade path: the same daily-rollup semantics expressed
  * as a watermarked windowed aggregation that can also run as a
  * synchronous batch via processAllAvailable.
  *
  * Every runner is one bounded AvailableNow query over [[fileStream]],
  * started in [[runBounded]]. The runner's contract:
  *  - Output dir: the runner owns it. It is
  *    `Scratch.fresh("<queryName>|<source>")`, so a rerun with the same
  *    name and source deletes the previous run's output and the last
  *    one is swept at JVM exit. Only the versioned-state runners
  *    ([[cdcUpsertStream]], [[heavyHittersStream]]) write to a dir
  *    their caller owns: they rotate versions in `stateDir`, which
  *    holds only the newest one.
  *  - Partition cap: `spark.sql.shuffle.partitions` is capped at
  *    min(ceiling, the session's value) from before `start()` until
  *    the query ends, so it sizes the state stores and every frame a
  *    trigger plans. The ceiling is 8, or 4 for the left-outer stream
  *    join and the heavy-hitter stream.
  *  - Read-back schema: the output is read back with the schema of
  *    what each trigger writes, so no read infers a schema and a run
  *    that wrote nothing reads as zero rows. [[runToDir]] derives it
  *    by analysis of the trigger body over an empty frame, the
  *    versioned state keeps the schema of the version it wrote, and
  *    [[incrementalDedupStream]] states its 2-column pair schema.
  */
object StreamOps {

  /** Unload completed queries' state-store providers. Bounded-batch
    * drivers (bench/verify) run many short streaming queries in one JVM;
    * a finished query's providers otherwise stay loaded and the shared
    * maintenance task keeps iterating them, slowing every LATER
    * streaming query (measured 10x on back-to-back runs). A long-lived
    * production query never hits this — it owns the JVM. */
  private[graft] def unloadStateStores(): Unit =
    // private[sql] in the Scala signature, public in bytecode → reflect
    try {
      val cls = Class.forName(
        "org.apache.spark.sql.execution.streaming.state.StateStore$")
      val module = cls.getField("MODULE$").get(null)
      cls.getMethod("unloadAll").invoke(module)
    } catch {
      case t: Throwable =>
        // unloadAll is internal API (verified in the bundled Spark 4.1.2);
        // if a Spark upgrade renames it, the measured-10x co-tenancy
        // slowdown would quietly return — warn once instead of hiding it.
        if (!unloadWarned) {
          unloadWarned = true
          System.err.println(
            s"[graft] StateStore.unloadAll unavailable (${t.getClass.getSimpleName}: " +
              s"${t.getMessage}); later streaming queries in this JVM may slow down")
        }
    }
  @volatile private var unloadWarned = false

  /** (doc_id, text): the staged document batches the doc streams read. */
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** The one streaming source: a parquet file stream over `dir`, at most
    * `maxFilesPerTrigger` files per micro-batch (all available files
    * when unset), listing only file names that match `glob` when set. */
  private def fileStream(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Option[Int] = None, glob: Option[String] = None): DataFrame =
    spark.readStream.schema(schema)
      .options((maxFilesPerTrigger.map(n => "maxFilesPerTrigger" -> n.toString) ++
        glob.map("pathGlobFilter" -> _)).toMap)
      .parquet(dir)

  /** Starts `w` as one bounded AvailableNow query, waits until it has
    * consumed everything its source held at start, then unloads the
    * finished query's state stores. */
  private def awaitAvailableNow(w: DataStreamWriter[Row]): Unit = {
    w.trigger(Trigger.AvailableNow()).start().awaitTermination()
    unloadStateStores()
  }

  /** Runs `df` to the end of its source, each micro-batch handed to
    * `sink`, with the session's shuffle partitions capped at `ceiling`
    * from before `start()` until the query ends. The query clones its
    * session's conf at start, so the cap sizes the state stores and
    * every frame a trigger plans, on `batch.sparkSession` and on the
    * caller's session alike; a cap set inside `sink` would reach only
    * the latter. The checkpoint is Spark's temporary one: these runs
    * are single-shot by design. */
  private def runBounded(df: DataFrame, mode: String, ceiling: Int)(
      sink: (DataFrame, Long) => Unit): Unit =
    withStatePartitions(df.sparkSession, ceiling) {
      awaitAvailableNow(df.writeStream.outputMode(mode).foreachBatch(sink))
    }

  /** The runner every stream-shaped and per-document runner shares:
    * [[runBounded]] with each trigger's `body(batch)` written to
    * `Scratch.fresh(key)`, the dir this runner owns (keys are
    * `"<queryName>|<source>"`, so a rerun deletes the previous run's
    * output). Complete mode overwrites the dir on each trigger, append
    * mode appends to it. The dir is read back with the schema of what
    * was written, `body` of an empty frame of `df`'s schema (analysis
    * only), so the read infers nothing and a run that wrote no file
    * reads as zero rows. */
  private def runToDir(df: DataFrame, key: String, mode: String, ceiling: Int,
      body: DataFrame => DataFrame = identity): DataFrame = {
    val spark = df.sparkSession
    val outDir = Scratch.fresh(key)
    val save = if (mode == "complete") SaveMode.Overwrite else SaveMode.Append
    runBounded(df, mode, ceiling) { (batch, _) =>
      body(batch).write.mode(save).parquet(outDir)
    }
    val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](), df.schema)
    spark.read.schema(body(empty).schema).parquet(outDir)
  }

  /** A state table folded over a stream in whole parquet versions:
    * `v0` is written to `$stateDir/v0`, and each trigger `id` reads
    * version `cur` with the schema it was written with and writes
    * `step(state, batch)` to `$stateDir/v${id + 1}`, then deletes
    * version `cur`: only the newest version is ever read, so the dir
    * holds one version between triggers. Returns the last version. */
  private def versionedFold(src: DataFrame, stateDir: String, v0: DataFrame,
      ceiling: Int)(step: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val spark = src.sparkSession
    def vPath(i: Long) = s"$stateDir/v$i"
    v0.write.mode("overwrite").parquet(vPath(0))
    @volatile var cur = 0L
    @volatile var curSchema = v0.schema
    runBounded(src, "append", ceiling) { (batch, id) =>
      val next = step(spark.read.schema(curSchema).parquet(vPath(cur)), batch)
      next.write.mode("overwrite").parquet(vPath(id + 1))
      Scratch.delete(vPath(cur))
      cur = id + 1
      curSchema = next.schema
    }
    spark.read.schema(curSchema).parquet(vPath(cur))
  }

  /** Run `f` with `spark.sql.shuffle.partitions` temporarily capped
    * at `n` — the knob that sizes a stateful streaming query's state
    * partitions (fixed at query start from this conf). The bounded
    * AvailableNow runners here carry small per-trigger volumes, where
    * 32 state-store instances per stateful operator are pure overhead;
    * a production deployment sizes this explicitly per stream the same
    * way. The callers' 8 and 4 are ceilings: the count is
    * min(n, the session's value) and is never raised, so a local[2]
    * session keeps its 2 state stores (raising it to 8 cost 6 more
    * tasks and output files per stateful operator). Results are
    * partitioning-independent.
    *
    * State-store PROVIDER (r17 A/B, VERDICT ask #7): the RocksDB
    * provider was measured against the default in-memory HDFS-backed
    * one across every stateful runner (fresh JVM per run, provider via
    * spark.sql.streaming.stateStore.providerClass): RocksDB LOST on
    * all of them — q69 2.9→3.9 s, q258 4.0→4.8 s, q56 2.1→2.8 s,
    * q161 2.5→2.9 s, q94 1.6→1.8 s — and was flat on the foreachBatch
    * runners that hold no operator state (q199, q208). Per-trigger
    * state here is thousands of rows; RocksDB's native-store
    * open/commit per partition per trigger is pure overhead until
    * state no longer fits executor memory. The default stays; a
    * deployment with 100 GB+ of join/dedup state flips the conf —
    * results are provider-independent. */
  private def withStatePartitions[T](spark: SparkSession, n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, math.min(n, old.toInt).toString)
    try f finally spark.conf.set(key, old)
  }

  /** Event-time (TIMESTAMP) from a `ts` field in any representation the
    * testdata has carried across rounds: epoch-micros long, TIMESTAMP,
    * or TIMESTAMP_NTZ (parquet `timestamp[us], isAdjustedToUTC=false`,
    * which Spark 4 infers for the current fixtures). The NTZ→TIMESTAMP
    * cast is value-preserving under the UTC session timezone every graft
    * session sets. */
  private def eventTime(dt: DataType, c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    dt match {
      case LongType => timestamp_micros(c)
      case _        => c.cast(TimestampType)
    }

  /** Windowed event counts as a stream: tumbling window + watermark for
    * late data, Trigger.AvailableNow, parquet result via foreachBatch.
    * Returns the final result read back from disk (window bounds
    * flattened).
    *
    * The sink is an executor-side parquet write per trigger (complete
    * mode snapshots the aggregate), NOT a driver-side memory sink — the
    * aggregate state and the write both stay distributed, so the same
    * code runs against an unbounded append-only table at scale.
    */
  def windowedCountsAvailableNow(spark: SparkSession, srcDir: String,
      schema: StructType, windowDur: String = "1 day",
      queryName: String = "stream_counts", globFilter: Option[String] = None): DataFrame = {
    val events = fileStream(spark, srcDir, schema, glob = globFilter)
    val tsName = if (schema.fieldNames.contains("ts")) "ts" else "timestamp"
    val agg = events
      .withColumn("ts_ts", eventTime(schema(tsName).dataType, col(tsName)))
      .withWatermark("ts_ts", "1 hour")
      .groupBy(window(col("ts_ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"))
    runToDir(agg, s"$queryName|$srcDir", "complete", 8)
      .select(to_date(col("window.start")).as("day"), col("event_type"), col("n"))
  }

  /** Declarative session windows as a stream — Spark's native
    * `session_window` (gap-merge) under Trigger.AvailableNow, the
    * built-in complement to [[sessionize]]'s custom
    * flatMapGroupsWithState form. Append mode + a zero-delay watermark:
    * a session is EMITTED once the watermark (= max event time seen)
    * passes its end, which the no-data finalization micro-batch
    * triggers at stream end — so the visible result is exactly the
    * sessions with `end ≤ max(ts)`, a deterministic rule the batch
    * oracle encodes verbatim. That watermark-finalization contract,
    * not "all sessions", is what an unbounded deployment actually
    * observes — the oracle documents it instead of papering over it.
    *
    * State is one in-flight session per (user, gap-island) — bounded by
    * active users × watermark delay, not stream history.
    */
  def sessionWindowsAvailableNow(spark: SparkSession, srcDir: String,
      schema: StructType, gap: String = "6 hours",
      queryName: String = "stream_sessions",
      globFilter: Option[String] = None): DataFrame = {
    val events = fileStream(spark, srcDir, schema, glob = globFilter)
    val tsName = if (schema.fieldNames.contains("ts")) "ts" else "timestamp"
    val agg = events
      .withColumn("ts_ts", eventTime(schema(tsName).dataType, col(tsName)))
      .withWatermark("ts_ts", "0 seconds")
      .groupBy(col("user_id"), session_window(col("ts_ts"), gap))
      .agg(count(lit(1)).as("n"))
    runToDir(agg, s"$queryName|$srcDir", "append", 8)
      .select(col("user_id"),
        graft.functions.BqShims.epochMicros(col("session_window.start"))
          .as("sess_start"),
        graft.functions.BqShims.epochMicros(col("session_window.end"))
          .as("sess_end"),
        col("n"))
  }

  /** Streaming exact dedup: the at-least-once ingestion guard. The
    * source is read TWICE and unioned (a deterministic duplicate
    * injection standing in for a redelivering transport), then
    * `dropDuplicatesWithinWatermark` keeps the first arrival per
    * `idCol`. State is one key per id retained only for the watermark
    * delay — bounded by arrival rate × delay, not by stream history,
    * which is what makes exactly-once ingestion viable on an unbounded
    * stream (plain `dropDuplicates` state grows forever).
    *
    * Returns the deduplicated rows read back from the append sink; with
    * a unique-id source the result equals the source exactly, which is
    * what lets the driver hash-check a streaming operator against a
    * batch DuckDB oracle.
    */
  def dedupAvailableNow(spark: SparkSession, srcDir: String, schema: StructType,
      idCol: String, queryName: String, globFilter: Option[String] = None): DataFrame = {
    def src = fileStream(spark, srcDir, schema, glob = globFilter)
    val doubled = src.union(src)
      .withColumn("ts_ts", eventTime(schema("ts").dataType, col("ts")))
      .withWatermark("ts_ts", "1 hour")
      .dropDuplicatesWithinWatermark(idCol)
      .drop("ts_ts")
    runToDir(doubled, s"$queryName|$srcDir", "append", 8)
  }

  /** Stream-stream self-join: anchor events (the `anchorFilter` side)
    * joined to every event of the same user in the preceding `window`.
    * Both sides are watermarked and the join is time-bounded, so each
    * side's buffered state is evictable the moment the other side's
    * watermark passes — state is O(arrival rate × window), not stream
    * history, which is the property that makes stream-stream joins
    * runnable unbounded. With AvailableNow over a bounded source the
    * result equals the batch join exactly (the oracle).
    */
  def streamSelfJoinAvailableNow(spark: SparkSession, srcDir: String,
      schema: StructType, anchorFilter: org.apache.spark.sql.Column,
      window: String, queryName: String,
      globFilter: Option[String] = None): DataFrame = {
    def src = fileStream(spark, srcDir, schema, glob = globFilter)
    val anchors = src.filter(anchorFilter)
      .select(col("event_id").as("a_id"), col("user_id").as("a_user"),
        eventTime(schema("ts").dataType, col("ts")).as("a_ts"))
      .withWatermark("a_ts", "1 hour")
    val others = src
      .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        eventTime(schema("ts").dataType, col("ts")).as("b_ts"))
      .withWatermark("b_ts", "1 hour")
    val joined = anchors.join(others,
      expr(s"a_user = b_user AND a_id != b_id AND " +
        s"b_ts BETWEEN a_ts - INTERVAL $window AND a_ts"))
    runToDir(joined.select(col("a_id"), col("a_user").as("user_id"), col("b_id")),
      s"$queryName|$srcDir", "append", 8)
  }

  /** Stream-stream LEFT OUTER time-bounded join: anchor events joined
    * to same-user `otherType` events in the preceding `window`, with
    * unmatched anchors emitted as (a_id, user, NULL) rows — the shape
    * that answers "which purchases had NO preceding click" on a live
    * stream. Outer-null emission is the part inner joins don't have:
    * an anchor's null row may only surface once BOTH watermarks have
    * passed its join bound (else a late match could still arrive), so
    * a bounded replay that ends at the data's max timestamp would hold
    * the last `window`+delay of anchors in state forever and drop them
    * from the result. The staged source therefore ends with a
    * far-future SENTINEL file (negative user ids, filtered from the
    * result) whose only job is to drive both watermarks past every
    * real bound; maxFilesPerTrigger=1 keeps it in its own trigger so
    * the final no-data micro-batch evicts state and flushes the nulls.
    * State is O(rate × window) per side exactly as in the inner join.
    *
    * The staged dir must contain the event files plus the sentinel,
    * ordered by modification time (sentinel last).
    */
  def streamLeftOuterJoinAvailableNow(spark: SparkSession, stagedDir: String,
      schema: StructType, anchorType: String, otherType: String,
      window: String, queryName: String): DataFrame = {
    def src = fileStream(spark, stagedDir, schema, Some(1))
    val anchors = src.filter(col("event_type") === anchorType)
      .select(col("event_id").as("a_id"), col("user_id").as("a_user"),
        eventTime(schema("ts").dataType, col("ts")).as("a_ts"))
      .withWatermark("a_ts", "1 hour")
    val others = src.filter(col("event_type") === otherType)
      .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        eventTime(schema("ts").dataType, col("ts")).as("b_ts"))
      .withWatermark("b_ts", "1 hour")
    val joined = anchors.join(others,
      expr("a_user = b_user AND " +
        s"b_ts BETWEEN a_ts - INTERVAL $window AND a_ts"),
      "left_outer")
    // at most 4 state partitions, not 8: a stream-stream join commits FOUR
    // stores per partition per batch (keyToNumValues/keyWithIndexToValue
    // × both sides), so partition count multiplies fixed commit cost
    // 4×; at production rates this is sized to throughput, here to the
    // fixed-cost floor.
    runToDir(joined.select(col("a_id"), col("a_user"), col("b_id")),
        s"$queryName|$stagedDir", "append", 4)
      .filter(col("a_user") >= 0)
  }

  /** Stream-static enrichment: a streaming fact joined per micro-batch
    * against a (broadcast) static dimension — the standard "enrich on
    * ingest" shape. The static side is planned once and broadcast into
    * every trigger; no state store is involved (stream-static inner
    * joins are stateless), so throughput is the scan + a broadcast
    * probe. Returns the enriched rows read back from the append sink.
    *
    * @param keyExpr derives the join key from the streaming row
    * @param dim     static dimension (dimKey, payload columns)
    */
  def streamStaticEnrichAvailableNow(spark: SparkSession, srcDir: String,
      schema: StructType, keyExpr: org.apache.spark.sql.Column,
      dim: DataFrame, dimKey: String, queryName: String,
      globFilter: Option[String] = None): DataFrame = {
    val enriched = fileStream(spark, srcDir, schema, glob = globFilter)
      .withColumn("_k", keyExpr)
      .join(broadcast(dim), col("_k") === dim(dimKey))
      .drop("_k")
    runToDir(enriched, s"$queryName|$srcDir", "append", 8)
  }

  /** Streaming incremental dedup against a GROWING signature index:
    * each micro-batch (a) signs only its own documents, (b) bucket-joins
    * the persisted index for candidate pairs, and (c) appends its
    * signatures to the index — so a pair split across micro-batches is
    * found when the LATER doc arrives, making the emitted pair set
    * independent of how the stream is chopped into triggers
    * (spec-asserted against single-shot batch mode). This is the
    * arrival-time form of [[graft.llm.TextDedup.incrementalCandidates]]
    * and the daily/continuous-ingest dedup shape at 100 TB: per-trigger
    * cost follows the trigger's documents, never the corpus.
    *
    * The signature computation aggregates per doc, so it runs INSIDE
    * foreachBatch (batch mode per trigger — the standard escape hatch
    * for stream transforms that need an agg without windowed state);
    * the streaming engine contributes source tracking, triggers and
    * exactly-once file listing. Idempotent under re-delivery: pairs are
    * canonicalized + distinct at read-back, and re-appended signatures
    * only re-find the same pairs.
    *
    * Unlike the [[runToDir]] runners, each trigger writes two outputs
    * (its pairs, then its signatures into the index the next trigger
    * probes) and the probe runs an eager `localCheckpoint`, so this
    * runner keeps its own sink and the explicit pair schema.
    *
    * @param indexDir parquet dir holding (id, band, key) — pre-seeded
    *                 with the existing corpus's signatures; grows as
    *                 batches arrive
    */
  def incrementalDedupStream(spark: SparkSession, batchDocsDir: String,
      indexDir: String, queryName: String, k: Int, bands: Int,
      shingleW: Int, portable: Boolean,
      maxFilesPerTrigger: Int = 1, pruneParts: Int = 0): DataFrame = {
    // key is a string under the portable hash, a long under xxhash64;
    // with pruneParts > 0 the index carries the (band, pkey) partition
    // layout (TextDedup.writeSigIndex) and each micro-batch probe
    // prunes the scan to its touched pkey directories.
    val sigSchema = StructType(
      Seq(StructField("id", LongType),
        StructField("band", org.apache.spark.sql.types.IntegerType),
        StructField("key",
          if (portable) org.apache.spark.sql.types.StringType else LongType)) ++
      (if (pruneParts > 0)
        Seq(StructField("pkey", org.apache.spark.sql.types.IntegerType))
      else Nil))
    val out = Scratch.fresh(s"$queryName|$batchDocsDir")
    val src = fileStream(spark, batchDocsDir, docSchema, Some(maxFilesPerTrigger))
    runBounded(src, "append", 8) { (batch, _) =>
      val idx = spark.read.schema(sigSchema).parquet(indexDir)
      graft.llm.TextDedup.incrementalCandidates(batch, idx,
          k = k, bands = bands, shingleW = shingleW, portable = portable,
          pruneParts = pruneParts)
        .write.mode(SaveMode.Append).parquet(out)
      val sigs = graft.llm.TextDedup.bandedSignatures(batch,
        k = k, bands = bands, shingleW = shingleW, portable = portable)
      if (pruneParts > 0)
        graft.llm.TextDedup.writeSigIndex(sigs, indexDir, pruneParts,
          mode = "append")
      else sigs.write.mode(SaveMode.Append).parquet(indexDir)
    }
    val outSchema = StructType(Seq(
      StructField("doc_a", LongType), StructField("doc_b", LongType)))
    spark.read.schema(outSchema).parquet(out).distinct()
  }

  /** Streaming decontamination — the q84 n-gram gate under continuous
    * ingest: corpus documents arrive in micro-batches and each batch
    * is flagged against the STATIC eval-gram set (broadcast inside
    * [[graft.llm.Decontaminate.report]]). Per-document decisions are
    * batch-local — there is deliberately NO cross-batch state — so the
    * final table is independent of how the corpus is chopped into
    * triggers, and the batch gate's oracle doubles as this stream's
    * oracle verbatim. Scale shape per trigger: one broadcast gram
    * semi-structure join sized to the micro-batch; the eval grams load
    * once per trigger from the static frame (a production deployment
    * pins them with a persisted broadcast). */
  def decontaminateStream(spark: SparkSession, batchDocsDir: String,
      evalDocs: DataFrame, n: Int, flagRatio: Double,
      maxFilesPerTrigger: Int = 1): DataFrame =
    runToDir(fileStream(spark, batchDocsDir, docSchema, Some(maxFilesPerTrigger)),
      s"stream_decon|$batchDocsDir", "append", 8,
      graft.llm.Decontaminate.report(_, evalDocs, n, flagRatio))

  /** Streaming shard manifest — the q287 export-reproducibility
    * fingerprint built under continuous ingest: each micro-batch
    * appends its per-shard (count, xor-of-content-hashes) PARTIALS,
    * and the final manifest is the xor/sum fold of the partials.
    * Because xor and + are associative and commutative, the streamed
    * manifest equals the batch manifest REGARDLESS of trigger
    * chopping or arrival order — the algebraic-aggregation property
    * that makes a manifest maintainable incrementally at all. The
    * caller computes shard/hash columns; this runs any (shard, h)
    * frame. */
  def shardManifestStream(spark: SparkSession, batchDocsDir: String,
      shardOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      hashOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      maxFilesPerTrigger: Int = 1): DataFrame =
    runToDir(fileStream(spark, batchDocsDir, docSchema, Some(maxFilesPerTrigger)),
        s"stream_manifest|$batchDocsDir", "append", 8,
        _.select(col("doc_id"), shardOf(col("doc_id")).as("shard"),
            hashOf(col("text")).as("h"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            expr("bit_xor(h)").as("fingerprint"),
            min("doc_id").as("min_doc_id"),
            max("doc_id").as("max_doc_id")))
      // fold the per-trigger partials: xor for fingerprints, sum/min/max
      // for the rest — each is the aggregate's own merge function
      .groupBy("shard")
      .agg(sum("n_docs").as("n_docs"),
        expr("bit_xor(fingerprint)").as("fingerprint"),
        min("min_doc_id").as("min_doc_id"),
        max("max_doc_id").as("max_doc_id"))

  /** Streaming stratified (per-source rate) sampling — the q85/q125
    * mixture-assembly convention under continuous ingest: each arriving
    * micro-batch keeps a doc iff its deterministic md5 draw
    * (md5Bucket(doc_id) % 100) falls under its source's percent rate.
    * The keep decision is a pure function of the ROW (no cross-batch
    * state, no RNG), so the streamed sample equals the batch sample
    * regardless of trigger chopping or arrival order — chop-invariance
    * by construction, which is what lets the batch oracle gate the
    * stream verbatim. Rates ride a broadcast join on the ≤|sources|-row
    * rate table; unmapped sources fall to `defaultRate`. */
  def stratifiedSampleStream(spark: SparkSession, batchDocsDir: String,
      rates: Map[String, Int], defaultRate: Int,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    val sampleSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType)))
    import spark.implicits._
    val rateDf = broadcast(rates.toSeq.toDF("source", "rate"))
    runToDir(fileStream(spark, batchDocsDir, sampleSchema, Some(maxFilesPerTrigger)),
        s"stream_sample|$batchDocsDir", "append", 8,
        _.join(rateDf, Seq("source"), "left")
          .filter(pmod(graft.functions.BqShims.md5Bucket(col("doc_id")),
            lit(100L)) < coalesce(col("rate"), lit(defaultRate)))
          .select("doc_id", "source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
        min("doc_id").as("min_kept"),
        sum("doc_id").as("sum_kept"))
  }

  /** Streaming CDC upsert (MERGE INTO under continuous ingest): an
    * out-of-order I/U/D changelog arrives in micro-batches and folds
    * onto a keyed state table. The state persists each key's
    * latest-APPLIED (seq, op), and an incoming change applies iff it is
    * strictly newer — so the final table is independent of how the
    * changelog is chopped into triggers and of arrival order across
    * them (spec-asserted equal to the single-shot batch fold).
    * Tombstones stay in the state as flagged rows rather than being
    * dropped, so a late lower-seq update can never resurrect a deleted
    * key; the returned frame filters them out.
    *
    * Within a batch the winner per key is row_number over
    * (seq DESC, op DESC) — the same total order the q129 batch
    * [[graft.operators.CdcApply]] uses — and the cross-batch
    * comparison extends that order through the persisted
    * (last_seq, last_op), so chopping cannot reorder the fold.
    *
    * Scale shape: one micro-batch-sized window + one key-equi
    * full-outer join per trigger. The state rewrite here rotates whole
    * parquet versions (bounded-run harness); a warehouse deployment
    * rewrites only touched key-partitions (MERGE), same join shape.
    *
    * @param logSchema  changelog read schema — must contain
    *                   k/seq/op; every other field is payload
    * @param snapshot   initial table state: (k, payload...)
    */
  def cdcUpsertStream(spark: SparkSession, changelogDir: String,
      stateDir: String, logSchema: StructType, snapshot: DataFrame,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val payload = logSchema.fieldNames.toSeq
      .filterNot(Set("k", "seq", "op"))
    val v0 = snapshot
      .withColumn("last_seq", lit(null).cast(LongType))
      .withColumn("last_op", lit(null).cast(org.apache.spark.sql.types.StringType))
      .withColumn("deleted", lit(false))
      .withColumn("from_change", lit(false))
    val src = fileStream(spark, changelogDir, logSchema, Some(maxFilesPerTrigger))
    versionedFold(src, stateDir, v0, 8) { (st, batch) =>
      val w = Window.partitionBy("k").orderBy(desc("seq"), desc("op"))
      val win = batch.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
      val j = st.alias("s").join(win.alias("c"),
        col("s.k") === col("c.k"), "full_outer")
      val newer = col("c.k").isNotNull && (col("s.k").isNull ||
        col("s.last_seq").isNull ||
        col("c.seq") > col("s.last_seq") ||
        (col("c.seq") === col("s.last_seq") &&
          col("c.op") > col("s.last_op")))
      val outCols =
        coalesce(col("s.k"), col("c.k")).as("k") +:
        payload.map(p =>
          when(newer, col(s"c.$p")).otherwise(col(s"s.$p")).as(p)) :+
        when(newer, col("c.seq")).otherwise(col("s.last_seq")).as("last_seq") :+
        when(newer, col("c.op")).otherwise(col("s.last_op")).as("last_op") :+
        when(newer, col("c.op") === "D").otherwise(col("s.deleted")).as("deleted") :+
        when(newer, lit(true)).otherwise(col("s.from_change")).as("from_change")
      j.select(outCols: _*)
    }
      .filter(!col("deleted"))
      .select((col("k") +: payload.map(col)) :+ col("from_change"): _*)
  }

  /** Streaming Misra–Gries heavy hitters: each micro-batch reduces to
    * its own k-counter summary (the native TypedImperativeAggregate —
    * constant memory, partial-agg shuffle), then merges into the
    * persisted summary with the PODS-2012 mergeable reduction
    * expressed RELATIONALLY: union the two counter sets, sum per key,
    * subtract the (k+1)-th largest combined count from everyone, keep
    * the positive — at most k survivors, and the additive error stays
    * ≤ N/(k+1) across any number of merges. The summary CONTENTS stay
    * merge-order-dependent (q133/q164 rule: queries publish the
    * deterministic guarantees, never the raw sketch); the GUARANTEES
    * hold under any trigger chopping.
    *
    * Scale shape: per trigger the state is ≤ k rows and the batch
    * summary ≤ k rows — the merge window sorts ≤ 2k entries. The only
    * per-row work is the batch summary's constant-memory fold.
    */
  def heavyHittersStream(spark: SparkSession, srcDir: String,
      schema: StructType, toKeys: DataFrame => DataFrame, k: Int,
      stateDir: String, maxFilesPerTrigger: Int = 1,
      globFilter: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v0 = spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(Seq(StructField("key", StringType), StructField("cnt", LongType))))
    val src = fileStream(spark, srcDir, schema, Some(maxFilesPerTrigger), globFilter)
    versionedFold(src, stateDir, v0, 4) { (st, batch) =>
      val bs = toKeys(batch)
        .agg(graft.operators.MisraGries.summary(col("key"), k).as("mg"))
        .select(explode(col("mg")).as(Seq("key", "cnt")))
      val uni = st.unionByName(bs)
        .groupBy("key").agg(sum("cnt").as("cnt"))
      val w = Window.orderBy(desc("cnt"), col("key"))
      val ranked = uni.withColumn("rk", row_number().over(w))
      val sub = ranked.filter(col("rk") === k + 1)
        .agg(coalesce(max("cnt"), lit(0L)).as("sub"))
      ranked.crossJoin(broadcast(sub))
        .select(col("key"), (col("cnt") - col("sub")).as("cnt"))
        .filter(col("cnt") > 0)
    }
  }

  final case class SessionEvent(user_id: Long, ts_micros: Long, event_type: String)
  final case class SessionState(start: Long, last: Long, n: Long)
  final case class SessionOut(user_id: Long, session_start: Long, session_end: Long,
      n_events: Long)

  /** Gap-based sessionization for BOUNDED batches via window functions —
    * the scale path: a sort-based window (spill-aware, fully
    * distributed) marks session starts with lag(), numbers sessions
    * with a running sum, aggregates bounds per (user, session), and
    * drops each user's still-open last session (matching the streaming
    * form, which only emits closed sessions). No per-user history is
    * ever collected on one executor beyond the window sort's spillable
    * run. */
  def sessionizeBatch(spark: SparkSession, events: org.apache.spark.sql.Dataset[SessionEvent],
      gapMicros: Long): org.apache.spark.sql.Dataset[SessionOut] = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts_micros")
    val sessions = events.toDF()
      .withColumn("new_s",
        when(lag(col("ts_micros"), 1).over(byUser).isNull
          .or(col("ts_micros") - lag(col("ts_micros"), 1).over(byUser) > gapMicros), 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts_micros")).as("session_start"),
        max(col("ts_micros")).as("session_end"),
        count(lit(1)).as("n_events"))
    sessions
      .withColumn("max_sid", max(col("sid")).over(Window.partitionBy("user_id")))
      .filter(col("sid") < col("max_sid"))
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
      .as[SessionOut]
  }

  /** Custom per-key state: gap-based sessionization via
    * flatMapGroupsWithState (SURVEY: KeyValueGroupedDataset custom
    * state). Events for a user belong to one session while gaps stay
    * under `gapMicros`; a larger gap closes the session and emits it.
    * Works identically over a stream (Append mode + timeout) or over a
    * bounded batch driven synchronously.
    *
    * Scale: state is O(1) per active user key, partitioned by user.
    * Within a trigger the group's events are folded ONE AT A TIME into a
    * set of disjoint session intervals (TreeMap keyed by start; each
    * event merges its within-gap neighbors) — gap-sessionization is
    * order-independent under interval merging, so no sort and no
    * materialization of the group's rows is needed, and peak memory is
    * O(sessions emitted this trigger + 1), the output size, never
    * O(events). This is the same merging idea as Spark's built-in
    * session_window state. [[sessionizeBatch]] remains the window-based
    * form for bounded analytical batches. */
  def sessionize(spark: SparkSession, events: org.apache.spark.sql.Dataset[SessionEvent],
      gapMicros: Long): org.apache.spark.sql.Dataset[SessionOut] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.NoTimeout) { (user, rows, state) =>
        val iv = new java.util.TreeMap[Long, SessionState]()
        def insert(s0: SessionState): Unit = {
          var cur = s0
          var merging = true
          while (merging) {
            val lo = iv.floorEntry(cur.start)
            val hi = iv.ceilingEntry(cur.start)
            if (lo != null && cur.start - lo.getValue.last <= gapMicros) {
              iv.remove(lo.getKey)
              cur = SessionState(math.min(lo.getValue.start, cur.start),
                math.max(lo.getValue.last, cur.last), lo.getValue.n + cur.n)
            } else if (hi != null && hi.getValue.start - cur.last <= gapMicros) {
              iv.remove(hi.getKey)
              cur = SessionState(math.min(hi.getValue.start, cur.start),
                math.max(hi.getValue.last, cur.last), hi.getValue.n + cur.n)
            } else merging = false
          }
          iv.put(cur.start, cur)
        }
        state.getOption.foreach(insert)
        rows.foreach(e => insert(SessionState(e.ts_micros, e.ts_micros, 1)))
        // every interval except the latest is closed by a later-starting
        // one beyond the gap; the latest stays open as next-trigger state
        val out = scala.collection.mutable.ListBuffer[SessionOut]()
        val it = iv.values.iterator
        var open: SessionState = null
        while (it.hasNext) {
          val s = it.next()
          if (open != null) out += SessionOut(user, open.start, open.last, open.n)
          open = s
        }
        if (open != null) state.update(open)
        out.iterator
      }
  }
}
