package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev tool: dump `.explain("formatted")` of queries. Not part of the
  * query surface.
  *
  * Usage: runMain graft.tools.DumpPlans
  *          writes representative queries' plans to PLANS.md — the
  *          physical-plan evidence (pushdown, pruning, broadcast,
  *          partial aggregation, no cartesian products) behind the scale
  *          claims in SURVEY/COVERAGE;
  *        runMain graft.tools.DumpPlans <outDir> <suffix> <q1,q2,...>
  *          writes each named query's plan to `<outDir>/<query>_<suffix>.txt`
  *          — the before/after plan evidence of an optimization round.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    require(args.isEmpty || args.length == 3, "DumpPlans [<outDir> <suffix> <q1,q2,...>]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // the session Verify/Bench use, so the plans (the corpus path's
    // spark.sql included) are theirs
    val spark = graft.GraftSession.getOrCreate("ERROR", cpus = 8)
    args match {
      case Array(outDir, suffix, names) => snapshots(spark, sfDir, outDir, suffix, names)
      case _ => plansMd(spark, sfDir)
    }
    spark.stop()
  }

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  private def snapshots(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, names: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Path.of(outDir))
    names.split(",").foreach { n =>
      val txt = formatted(graft.SparkEntry.queries(n)(spark, sfDir))
      java.nio.file.Files.writeString(java.nio.file.Path.of(outDir, s"${n}_$suffix.txt"), txt)
      println(s"wrote $outDir/${n}_$suffix.txt (${txt.length} chars)")
    }
  }

  private def plansMd(spark: SparkSession, sfDir: String): Unit = {
    val picks = Seq(
      "q01_pricing_summary" -> "scan pushdown + pruning + partial agg",
      "q07_join_inner" -> "shuffle join on keys",
      "q19_global_order" -> "broadcast small dim",
      "q47_interval_join" -> "linear explode interval join (no BNLJ)",
      "q72_minhash_lsh" -> "banded LSH equi-join (no cartesian; integer portable hash)",
      "q75_ann_lsh" -> "multi-table LSH + PINNED exact truth as local relation",
      "q82_ann_ivf" -> "IVF cell equi-join, two-phase re-rank",
      "q86_ann_pq" -> "PQ code scan + broadcast LUT, exact re-rank",
      "q116_ann_ivfpq" -> "IVF cell prune x PQ code scan (IVFADC), exact re-rank",
      "q117_incremental_dedup" -> "batch signatures equi-join the persisted parquet index",
      "q120_quality_keeper" -> "clusters x quality argmax, no cartesian",
      "q81_embedding_neardup" -> "label-blocked exact cosine",
      "q84_decontaminate" -> "broadcast eval-gram semi structure",
      "q87_semantic_dedup" -> "cell-bucketed pairwise prune",
      "q59_sequence_pack" -> "per-shard window (no global sort)",
      "q68_window_dedup" -> "gram doc-frequency join-back (linear)",
      "q110_forecast_cv" -> "one shuffle on segment (mapGroups CV grid)",
      "q114_forecast_grid2" -> "widened grid, same single-shuffle shape",
      "q121_forecast_paths" -> "fit -> 200 seeded bootstrap paths -> row-axis summary, sample matrix never leaves executors",
      "q122_semantic_dedup_auto" -> "occupancy-held sign cells, two-phase float/decimal cosine (linear pair volume)",
      "q127_scd2_build" -> "SCD2: all window passes ride ONE exchange by entity key",
      "q128_pagerank" -> "edges+degree cached/stationary; only the rank vector moves per iteration",
      "q129_cdc_apply" -> "changelog windowed once, snapshot anti-joined (broadcast), never sorted",
      "q131_gap_fill" -> "per-key spine explode + both window fills share the key exchange",
      "q132_fuzzy_join" -> "block-key equi-join (no cartesian), levenshtein only inside blocks",
      "q133_sketch_rollup" -> "daily sketch cube scan + tiny merge agg; fact table not rescanned",
      "q143_asof_join" -> "as-of join = ONE window pass over the unioned stream, zero join operators",
      "q144_interval_join" -> "range join binned to an equi-join on the bin (no BNLJ/cartesian)",
      "q145_grouped_topk" -> "partial_topk_by_value before the exchange: k entries per group per map task",
      "q146_quantile_rollup" -> "sketch cube scan + hist_sum merge; rank lookup over exploded bins",
      "q147_priority_sample" -> "TakeOrderedAndProject top-(k+1), no global sort shuffle",
      "q152_salted_join" -> "salted equi-join on (key, salt); dim exploded x8",
      "q166_surprisal_filter" -> "token shuffle partial-aggregates; vocab-sized LM join",
      "q168_dup_spans" -> "gram survivors via LeftSemi; span merge on one per-doc window",
      "q170_zonemap_skip" -> "broadcast surviving-zone semi-join feeds the scan",
      "q174_pmi_collocations" -> "bigram shuffle + two vocab equi-joins; 1-row broadcasts only",
      "q180_kcore" -> "round 1: one degree agg; later rounds: dying-frontier semi-join + |V|-sized degree join; every round a barrier (final one shown)",
      "q184_containment_dedup" -> "prefix-filter candidates; per-pair array_intersect, no Σdf² self-join",
      "q186_cooccurrence_topk" -> "within-order pair explode; partial_topk before the exchange",
      "q193_linear_classifier" -> "zero-shuffle classifier: single projected scan, per-doc aggregate folds, no weight join",
      "q194_ks_gate" -> "one (arm, value) count shuffle; CDF window over DISTINCT values only",
      "q197_cumulative_distinct" -> "first-seen rewrite: user-level partial-agg groupBy + days-sized window",
      "q198_asof_snapshot" -> "SCD2 windows + as-of filter ride ONE exchange by entity key",
      "q226_ivm_join" -> "IVM: delta-join unions onto the maintained view; delta side touches |delta| rows",
      "q227_ivm_agg" -> "IVM with retractions: changed-key semi-join probe; delta folds onto base agg",
      "q205_bitmap_index" -> "bitmap build partial bit_or before exchange; word-equi AND join",
      "q220_item_similarity" -> "within-order pair explode; degree equi-joins; no cartesian",
      "q254_jw_linkage" -> "blocked (brand,size) equi-join; codegen'd exact-integer JW inside the join project",
      "q256_matryoshka_recall" -> "broadcast query vectors; zip_with/aggregate integer dots in codegen; window only over scored pairs",
      "q259_kn_bigram" -> "per-doc lead window; ONE (w1,w2) shuffle; vocab-sized marginal joins + 1-row type-count broadcast",
      "q262_topk_rewrite" -> "window-top-k REWRITTEN: no Window node, topk_rows ObjectHashAggregate + posexplode",
      "q265_bitemporal_asof" -> "2|orders| version rows, one key-partition top-1 (rewritten), valid filter",
      "q266_cuped" -> "one user-level shuffle + 1-row stats broadcast; arms reuse the user table",
      "q267_timedecay_attribution" -> "user-keyed equi-join, bounded touch window, exact pow2 weights",
      "q271_pipeline_card" -> "FUSED prep pipeline (dedup+decon+quality+sample+pack): one broadcast gram join, three windows each on its own single hash exchange, one final aggregate — no stage re-reads the corpus",
      "q272_json_variant" -> "PARSE-ONCE variant JSON: single parseJson Project, all accesses try_variant_get binary reads, zero get_json_object",
      "q274_changepoint_trend" -> "relational changepoint fit: bounded candidate join (k<=25), ONE sufficient-stats hash aggregate, Cramer as project arithmetic, top-1 window (rewrite-eligible) — no per-segment loop",
      "q276_changepoint2" -> "joint 2-break fit: pair grid C(10,2) fan-out, same single-aggregate shape one dimension up",
      "q277_token_balanced_shards" -> "serpentine deal over a TWO-PHASE global rank: range exchange + per-partition row_number + broadcast partition offsets — no single-partition corpus Window",
      "q278_unimax_budget" -> "UniMax waterfilling: the only full-data work is ONE map-side-combinable count agg; windows run on the k-row per-domain table",
      "q279_cluster_split" -> "cluster-keyed split: per-row hash project over pinned cluster ids; straddle audit is two tiny aggregates",
      "q280_quality_sweep" -> "11-threshold calibration curve from ONE 1-row conditional-sum aggregate + posexplode — no 11x row fan-out",
      "q281_budget_cut" -> "global running token total via two-phase range exchange; budget denominator from the same <=32-row offsets fold",
      "q282_kn_surprisal" -> "one (w1,w2) model shuffle + vocab-sized marginals; scoring join keyed on (w1,w2); flag scalars on the 20-row source frame",
      "q283_semantic_decon" -> "broadcast eval x train scan; pairs reduce MAP-SIDE to one row per eval id (partial max of (cosine,-id) structs)",
      "q284_epoch_schedule" -> "plan/apply split: one map-side count pass, one tagging pass against the broadcast 10-row plan",
      "q285_knn_probe" -> "top-3-per-eval REWRITTEN to the bounded-heap aggregate (no Window sort of the pair volume); 3 rows per eval cross the exchange",
      "q293_dedup_threshold_curve" -> "banded LSH candidates (equi-join, no all-pairs); long-hashed token-set intersects; the 6-threshold curve is ONE conditional-sum aggregate, no per-threshold re-verify",
      "q294_batch_padding" -> "BOTH batching policies via the two-phase global rank (range exchange + per-partition row_number + broadcast offsets); per-batch aggregate, batch-keyed join",
      "q295_dsir_weights" -> "one token shuffle to 64 bucket counts; weight table broadcasts back; per-doc score is one hash aggregate — linear end to end",
      "q296_reexport_plan" -> "one shard aggregate carries both versions' xor fingerprints; totals on the 16-row shard frame",
      "q298_novelty_rollup" -> "gram shuffle to global counts, equi-join back to owners, per-source conditional rollup — no pair join anywhere",
      "q305_ablation_grid" -> "leave-one-out UniMax grid: ONE corpus count agg; every waterfilling window PARTITION BY arm on the 100-row grid frame",
      "q306_range_splits" -> "exact split boundaries: two-phase running totals; each row locally decides which targets it crosses — no range join, no BNLJ",
      "q307_training_manifest" -> "three planning operators composed; corpus passes once through assign, all manifest windows on the 16-row shard frame",
      "q309_changepoint_greedy" -> "greedy round = candidate equi-join fan-out (<= k x n rows) + map-side-combined sufficient-stats aggregate + top-1 window; staged checkpoints keep the multi-round tree linear (final stage shown)",
      "q314_systematic_resample" -> "cumulative axis via the two-phase range-exchange prefix sum (no single-partition window); multiplicity a per-row BIGINT closed form; <= m-row draw set broadcasts back for the per-source rollup")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of representative queries\n\n")
    sb.append("Generated by `graft.tools.DumpPlans` at sf0.01; regenerate with\n")
    sb.append("`sbt \"runMain graft.tools.DumpPlans\"`. Each plan shows the\n")
    sb.append("property named in its heading (PushedFilters/ReadSchema on the\n")
    sb.append("scan, BroadcastHashJoin for small dims, partial_* aggregates,\n")
    sb.append("no CartesianProduct anywhere; the only\n")
    sb.append("BroadcastNestedLoopJoins are 1-row-summary x 1-row-summary\n")
    sb.append("crosses inside the ANN recall gates -- bounded by\n")
    sb.append("construction, adjudicated in VERDICT r9).\n")
    picks.foreach { case (name, why) =>
      val trimmed = formatted(graft.SparkEntry.queries(name)(spark, sfDir))
        .linesIterator.take(80).mkString("\n")
      sb.append(s"\n## $name — $why\n\n```\n$trimmed\n```\n")
    }
    // Corpus-path proof (r12 ask #4): the reference's QUALIFY
    // ROW_NUMBER dedup idiom (graphics_dashboard.sql:165-169),
    // Dialect-translated exactly as CorpusLoader would and planned
    // under the session-injected rule, the only way the rule runs —
    // the dump must show topk_rows with no Window node. Second shape: the
    // multi-window-expression QUALIFY (other window functions share
    // the node with the filtered rank) — the rank becomes the
    // aggregate, the others keep their own Window below it.
    spark.read.parquet(s"$sfDir/events.parquet")
      .selectExpr("user_id AS client_id", "ts AS submission_timestamp",
        "event_type AS v")
      .createOrReplaceTempView("corpus_pings")
    val dedupe = spark.sql(graft.dag.Dialect.translate(
      """SELECT * FROM corpus_pings
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY client_id ORDER BY submission_timestamp DESC, v) = 1""".stripMargin))
    sb.append(s"\n## corpus QUALIFY dedup (Dialect-translated, session-injected rule)" +
      s" — graphics_dashboard.sql:165-169 shape: topk_rows, no Window\n\n```\n" +
      formatted(dedupe).linesIterator.take(60).mkString("\n") + "\n```\n")
    val multi = spark.sql(graft.dag.Dialect.translate(
      """SELECT client_id, v,
        |  COUNT(*) OVER (PARTITION BY client_id ORDER BY submission_timestamp DESC, v) AS seen,
        |  LAG(v) OVER (PARTITION BY client_id ORDER BY submission_timestamp DESC, v) AS prev_v
        |FROM corpus_pings
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY client_id ORDER BY submission_timestamp DESC, v) <= 2""".stripMargin))
    sb.append(s"\n## multi-window-expression QUALIFY — rank rewritten to topk_rows," +
      s" other window exprs keep one Window below the aggregate\n\n```\n" +
      formatted(multi).linesIterator.take(60).mkString("\n") + "\n```\n")
    // Adversarial-skew evidence (r12 ask #5): one key holding ~50% of
    // events; the two documented mechanisms actually engaging — AQE
    // splitting the skewed sort-merge partitions, and SkewSalt's 8-way
    // fan-out. Timings live in PERF_NOTES ("skew sweep"); this dump
    // pins the PLAN shapes.
    val (aqe, salt) = SkewProbe.planEvidence(spark, sfDir)
    sb.append("\n## skew: plain shuffle join on the hot key — AQE skew split engaged\n\n" +
      s"```\n$aqe\n```\n")
    sb.append("\n## skew: SkewSalt 8-way salted join — dim exploded x8, equi-join on (key, salt)\n\n" +
      s"```\n$salt\n```\n")
    java.nio.file.Files.writeString(java.nio.file.Path.of("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${sb.length} chars)")
  }
}
