package graft
object Bench {
  // Locale.ROOT: "%.Nf" must never emit a comma decimal separator.
  def fmt(v: Double, dec: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${dec}f", v)
  // Short-line values are clamped to ≤3 chars ("9.9" under 10 s,
  // integer seconds above, "-1" for failures); the 4-decimal per-query
  // record lives in BENCH_OUT.json.
  def fmtShort(v: Double): String =
    if (v < 0) "-1" else if (v >= 9.95) fmt(v, 0) else fmt(v, 1)

  /** The driver-facing stdout JSON line, guaranteed ≤ `budget` bytes:
    * per-query entries are kept SLOWEST-FIRST until the budget is
    * spent (the 2x-gate-relevant band), the fast tail is summarized as
    * "omitted":N — its queries stay fully recorded in BENCH_OUT.json
    * and fully gated by the bench_2x_flags line. Keys are qNN prefixes
    * when unambiguous. */
  def shortLine(results: Seq[(String, Double)], sfLabel: String,
      budget: Int = 1860): String = {
    val prefixes = results.map(_._1.takeWhile(_ != '_'))
    val shortKeys = prefixes.size == prefixes.distinct.size
    def keyOf(k: String) = if (shortKeys) k.takeWhile(_ != '_') else k
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val entries = results.map { case (k, v) =>
      (k, v, "\"" + keyOf(k) + "\":" + fmtShort(v)) }
    val shell = s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","queries":{},"omitted":999,"sf":"$sfLabel"}"""
    var room = budget - shell.length
    // failures (v < 0) are always kept; then slowest first
    val keep = scala.collection.mutable.Set.empty[String]
    entries.sortBy { case (_, v, _) => if (v < 0) Double.MinValue else -v }
      .foreach { case (k, _, s) =>
        if (room - (s.length + 1) >= 0) { keep += k; room -= s.length + 1 }
      }
    val qs = entries.collect { case (k, _, s) if keep(k) => s }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","queries":$qs,"omitted":${entries.size - keep.size},"sf":"$sfLabel"}"""
  }
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus()
    // the session Verify proves: bench times the plans the correctness
    // gate checked, window-top-k rewrite included
    val spark = GraftSession.getOrCreate("WARN", cpus)
    // Warmup: touch every table and run one representative query so the
    // first timed query doesn't absorb JVM/codegen/scan-init costs.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { n =>
      try spark.read.parquet(s"$sfDir/$n.parquet").count()
      catch { case _: Throwable => () }
    }
    // Warm the SAME evaluation path the timed loop uses (noop write) —
    // otherwise the noop datasource/write-path class init lands on the
    // first timed query (measured ~1 s on q01).
    try SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }
    // Codec class-loading is driver-measurable noise (±0.5 s on q111 in
    // the committed noise floor): touch imageio + javax.sound once so
    // the first media query times decode work, not class init.
    try {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      javax.imageio.ImageIO.write(img, "gif", bos)
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bos.toByteArray))
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(new Array[Byte](16)), fmt, 8L)
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE,
        new java.io.ByteArrayOutputStream())
    } catch { case _: Throwable => () }
    // min of 2 runs per query: reports steady-state cost, not whichever
    // query happened to absorb a GC pause / JIT recompile. On small
    // executors (slow total runtime) fall back to a single pass.
    val runs = if (cpus >= 16) 2 else 1
    // Dev-loop filter (comma-separated names); the driver sets no filter
    // and benches the full map.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // Deterministic order: SparkEntry.queries is a HashMap, so iteration
    // order shifts whenever a query is added — which lets a light query
    // silently inherit the GC/state-store debt of whichever heavy neighbor
    // the new hash order put before it (r7: q64 8.7x slower on identical
    // code). Run name-sorted, with the stateful/heavy queries (streaming
    // state stores, corpus deploy, CC clustering) LAST so their JVM
    // footprint can't taint the per-query numbers of the light ones.
    val heavyLast = Set("q56_stream_dedup", "q69_stream_join",
      "q94_stream_window", "q107_sessionize", "q109_corpus_exec",
      "q83_dedup_clusters", "q86_ann_pq", "q75_ann_lsh", "q116_ann_ivfpq",
      "q118_stream_incr_dedup",
      // r9 record: q120's ~6 s of shuffle/GC debt landed mid-sequence
      // (name order puts it before q12) and inflated the untouched
      // q22-q32 band >2x. q113 (HTTP pool) and q115 (codec frames) are
      // the next-heaviest mid-sequence entries — move all three to the
      // tail with the other footprint-heavy queries.
      "q120_quality_keeper", "q113_ml_enrich", "q115_video_frames",
      // r10 noop-eval fix surfaced the true cost of queries whose
      // projections count() used to prune — those still ≥3 s after the
      // hashed-gram-key optimizations (q57 5.6→0.7 s, q68 2.9→1.4 s,
      // q84 3.0→0.9 s stay mid-sequence) join the tail so their
      // footprint can't taint the light band.
      "q106_approx_variants",
      // r11: the q117→q122 alphabetic band ran 2-5x its isolated cost in
      // the full sweep — co-tenancy debt from heavy mid-sequence
      // neighbors, not plan regressions (isolated: q117 1.5 s, q119
      // 0.6 s, q11 0.5 s, q121 0.8 s, q122 1.6 s). Move the debt
      // SOURCES to the tail: q108's 160-object driver-side deploy,
      // q117's first-run partitioned index build, and the iterative
      // graph/stats heavies.
      "q108_corpus_sweep", "q117_incremental_dedup", "q128_pagerank",
      "q132_fuzzy_join", "q135_shortest_path", "q136_table_stats",
      // r11 batch 2: the wedge-join triangle count is the only ≥3 s
      // addition — tail it with the other graph heavies; the
      // session_window stream joins the other state-store queries
      "q153_triangle_count", "q161_stream_session_window",
      // r11 batch 4: the gram-window shuffle is the only ≥3 s addition
      "q168_dup_spans",
      // r11 batch 7: iterative peeling joins the graph heavies
      "q180_kcore",
      // r11 batch 8: candidate-verify containment join
      "q184_containment_dedup",
      // r11 batch 9: the within-order pair-count shuffle
      "q186_cooccurrence_topk",
      // r12: the ≥3 s additions — per-token md5 folds, the 4x-unpivoted
      // encoding scan, and the kNN-graph CC iterations — join the tail
      "q193_linear_classifier", "q201_encoding_stats", "q228_knn_graph",
      // r12: the left-outer stream join is a state-store query — tail
      // it; the source-overlap gram self-join is the block's only
      // ≥3 s addition
      "q258_stream_left_outer", "q264_source_overlap",
      // r14: the fused pipeline card (8-gram broadcast join + export +
      // read-back, 4.8 s isolated) is the round's only ≥3 s addition —
      // tail it with the other heavies so mid-sequence co-tenancy
      // can't push it toward its 2x pin
      "q271_pipeline_card",
      // r14: the cluster-keyed split shares q120's pinned cluster
      // stage; whoever FIRST touches the pin pays the ~10 s
      // LSH→verify→CC build. Tail it next to q120 (name order puts
      // q120 first) so the build lands in the tail once, not in the
      // light band.
      "q279_cluster_split",
      // r14: streaming decon runs 4 AvailableNow triggers + a staged
      // input write on first touch — a state-machinery footprint that
      // belongs with the other streaming queries in the tail
      "q286_stream_decon",
      // r14: dedup-savings shares the q120/q279 pinned cluster stage —
      // tail it with them so the build never lands mid-sequence
      "q291_dedup_savings",
      // r14: streaming manifest runs 4 AvailableNow triggers + staged
      // input on first touch — tail with the other streaming queries
      "q292_stream_manifest",
      // r14 session 4: the threshold-curve verify shuffles the ~480k
      // candidate-pair set (3.4 s isolated) — tail it with the other
      // pair-shuffle heavies; the streaming stratified sample stages
      // its input + runs 4 AvailableNow triggers on first touch — tail
      // with the other streaming queries
      "q293_dedup_threshold_curve", "q297_stream_stratified",
      // r14 session 4: q304 consumes the shared pinned cluster stage —
      // tail it next to q120/q279/q291 so the first-touch build never
      // lands mid-sequence
      "q304_cluster_sizes")
    val queries = SparkEntry.queries
    // Mechanical 2x gate: BASELINE_BENCH.json pins the best-known
    // per-query time at sf0.1; any query now >2x its pin is re-measured
    // and then flagged, making "within 2x of recorded baseline" a
    // per-query check instead of a round-over-round narrative.
    val baselinePath = java.nio.file.Path.of(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE", "BASELINE_BENCH.json"))
    val baseline: Option[Map[String, Double]] =
      if (sfDir.contains("sf0.1") && java.nio.file.Files.exists(baselinePath)) {
        val entry = """"(q[^"]+)"\s*:\s*([0-9.]+)""".r
        Some(entry.findAllMatchIn(java.nio.file.Files.readString(baselinePath))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap)
      } else None
    def over2x(name: String, v: Double): Boolean =
      baseline.exists(_.get(name).exists(b => v > 2 * b))
    // One timed run. Evaluate via the noop sink, NOT count(): under
    // count() Catalyst prunes every unreferenced projection (and
    // eliminates sorts), so a pure per-row query (q76 text stats, q79
    // fingerprint, ...) would "time" a parquet metadata row-count —
    // measured flat from sf0.1 to 100x. The noop write materializes
    // every output column on the executors with zero sink cost, so the
    // timed number is the real operator. A thrown query must NOT report
    // its time-to-throw as a result: a failed run yields None.
    def timeOnce(name: String): Option[Double] = {
      // q109's treehash cache would make every run after the first a
      // ~0.1 s hit, so min-of-N would gate the cache lookup instead of
      // the fused deploy+execute path it exists to measure. Clear it so
      // each timed run pays the real sweep (the cached path stays
      // spec-gated in CorpusCacheSpec).
      if (name == "q109_corpus_exec")
        graft.dag.CorpusLoader.clearExecCache(spark)
      val t0 = System.nanoTime()
      try {
        queries(name)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
      }
    }
    // Drop finished streaming state stores and take a bounded GC, so a
    // query is measured on its own footprint, not its predecessor's.
    def settle(ms: Long): Unit = {
      graft.streaming.StreamOps.unloadStateStores()
      System.gc(); Thread.sleep(ms)
    }
    val ordered = queries.keys.toSeq
      .filter(name => only.forall(_.contains(name)))
      .sortBy(name => (heavyLast.contains(name), name))
    // a query with no successful run is recorded as -1 (flagged below),
    // never as a fast pass
    val results = ordered.map { name =>
      // heavy queries still neighbor each other at the tail
      if (heavyLast.contains(name)) settle(200)
      name -> (1 to runs).flatMap(_ => timeOnce(name)).minOption.getOrElse(-1.0)
    }
    // Flag-triggered re-measurement (r11 verdict ask #5): the driver
    // runs ONE sweep, and a co-tenant spike that spans both back-to-back
    // runs of min-of-2 stands as the round's record (r11: q77 9.9x,
    // q15 7.2x on UNCHANGED plans that measure 1.0x isolated). Any
    // query now over 2x its pin gets up to two more timed runs after a
    // state-store unload + GC settle, keeping the overall min: a real
    // regression is just as slow on the re-run and stays flagged, a
    // noise spike recovers. Retried names are printed (bench_retried=)
    // so a record that needed recovery is visible, never silent.
    val retried = scala.collection.mutable.ArrayBuffer.empty[String]
    val healed = results.map { case (name, v) =>
      if (over2x(name, v)) {
        retried += name
        settle(500)
        name -> (v +: (1 to 2).flatMap(_ => timeOnce(name))).min
      } else name -> v
    }
    if (retried.nonEmpty)
      println(s"bench_retried=${retried.mkString("[", ",", "]")}")
    // ListMap keeps the run order in the emitted JSON (humans diff these).
    val resultsMap = scala.collection.immutable.ListMap(healed: _*)
    // Full-name 4-decimal payload → file (complete record for humans/tools).
    val fullQs = resultsMap
      .map { case (k, v) => "\"" + k + "\":" + fmt(v, 4) }
      .mkString("{", ",", "}")
    val fullTotal = resultsMap.values.filter(_ >= 0).sum
    val out = java.nio.file.Path.of(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_OUT.json"))
    java.nio.file.Files.write(out,
      (s"""{"metric":"total","value":${fmt(fullTotal, 4)},"unit":"sec",""" +
        s""""queries":$fullQs,"sf":"$sfDir"}""").getBytes("UTF-8"))
    // The driver captures only the LAST 2000 bytes of stdout and parses the
    // JSON line out of that tail; sbt appends its [success] line after us,
    // so the WHOLE short line + that noise must fit in 2000 bytes or the
    // driver records parsed:null (it did, rounds 1-9 — the line's head got
    // clipped). Budget per BenchLineSpec: short qNN keys, 2-decimal values,
    // short sf label, and NOTHING printed after the line.
    // The 2x flags are printed BEFORE the JSON line so the driver's
    // 2000-byte stdout tail keeps the JSON whole.
    baseline.foreach { base =>
      val flags = resultsMap.collect {
        case (k, v) if over2x(k, v) => f"$k:${v}%.2fs>2x*${base(k)}%.2fs"
      }
      println(s"bench_2x_flags=${flags.mkString("[", ",", "]")}")
    }
    val failed = resultsMap.collect { case (k, v) if v < 0 => k }
    if (failed.nonEmpty)
      println(s"bench_failures=${failed.mkString("[", ",", "]")}")
    val sfLabel = java.nio.file.Path.of(sfDir).getFileName.toString
    // stop Spark BEFORE the line: executor-shutdown warnings land above
    // it instead of pushing it out of the driver's tail window
    spark.stop()
    println(shortLine(healed, sfLabel))
  }
}
