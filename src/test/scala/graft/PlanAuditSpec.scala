package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Tables._

/** Physical-plan audits: the properties that keep these plans viable at
  * 100 TB, asserted so regressions fail loudly. (SURVEY §4: pushdown and
  * pruning must reach the parquet scan; small dims must broadcast; LSH
  * paths must never produce a cartesian product.) */
class PlanAuditSpec extends SparkTestBase {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def formatted(name: String): String =
    plan(SparkEntry.queries(name)(spark, sfDir))

  test("filter pushdown reaches the parquet scan (q01)") {
    val p = formatted("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"no pushed filter in:\n$p")
  }

  test("column pruning: q01 reads only the needed lineitem columns") {
    val p = formatted("q01_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), s"unpruned scan: $readSchema")
    assert(readSchema.contains("l_quantity"))
  }

  test("small dimensions broadcast (q19 nation join)") {
    val p = formatted("q19_global_order")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"nation join did not broadcast:\n$p")
  }

  test("partial aggregation (map-side combine) present in q01") {
    val p = formatted("q01_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"no partial aggregation:\n$p")
  }

  test("whole-stage codegen covers the q01 pipeline") {
    // AQE finalizes the plan (and its codegen spans) only on execution
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
    df.collect()
    val p = plan(df)
    // simpleString renders WholeStageCodegen spans as "*(n)" prefixes
    assert(p.contains("WholeStageCodegen") || p.contains("*(1)"),
      s"no codegen spans:\n$p")
  }

  test("semi/anti joins plan as semi/anti, not inner+distinct (q11/q12)") {
    assert(formatted("q11_semi_join").contains("LeftSemi"))
    assert(formatted("q12_anti_join").contains("LeftAnti"))
  }

  test("q221 quintiles ride the range exchange, not a global ntile window") {
    // r15 ask #3: the RFM scoring must never single-partition the
    // customers frame — each of the three globalNtile passes shows up
    // as a rangepartitioning exchange, and no unpartitioned ntile
    // window remains in the plan
    val p = formatted("q221_rfm_segments")
    assert(p.toLowerCase.contains("rangepartitioning"),
      s"no range exchange in q221 plan:\n$p")
    assert(!p.contains("ntile"), s"ntile window survived in q221:\n$p")
  }

  test("MinHash-LSH candidate generation has no cartesian product") {
    val p = formatted("q72_minhash_lsh")
    assert(!p.contains("CartesianProduct"), s"cartesian in LSH plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in LSH plan:\n$p")
  }

  test("LSH ANN joins on the bucket key, no cartesian product") {
    val p = formatted("q75_ann_lsh")
    assert(!p.contains("CartesianProduct"), s"cartesian in ANN plan:\n$p")
  }

  test("interval join (q47) is linear explode+agg, not a nested loop") {
    val p = formatted("q47_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"quadratic interval join:\n$p")
    assert(p.contains("Generate explode"), s"missing explode rewrite:\n$p")
  }

  test("semantic dedup pairs are cell-bucketed, never all-pairs (q87)") {
    val p = formatted("q87_semantic_dedup")
    assert(!p.contains("CartesianProduct"), s"cartesian in semdedup plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in semdedup plan:\n$p")
  }

  test("PQ ANN scan joins codes to a broadcast LUT, no cartesian (q86)") {
    val p = formatted("q86_ann_pq")
    assert(!p.contains("CartesianProduct"), s"cartesian in PQ plan:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"codebook/LUT side did not broadcast:\n$p")
  }

  test("IVF ANN probes cells via equi-join, no cartesian (q82)") {
    val p = formatted("q82_ann_ivf")
    assert(!p.contains("CartesianProduct"), s"cartesian in IVF plan:\n$p")
    // the recall summary crosses two single-row aggregates (1×1, bounded by
    // construction) — a BNLJ is only a defect if it joins unaggregated rows
    val bnljs = p.split("BroadcastNestedLoopJoin").length - 1
    val oneRowCrosses = p.split("IdentityBroadcastMode").length - 1
    assert(bnljs <= oneRowCrosses,
      s"non-summary BNLJ in IVF plan ($bnljs BNLJ vs $oneRowCrosses 1-row crosses):\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"cell probe is not an equi-join:\n$p")
  }

  test("ANN recall gates join the PINNED exact truth, not an in-query O(n*m) scan (q75)") {
    // the exact baseline must enter as a bounded local relation (computed
    // once per SF dir, |queries|*k rows), not as a second brute-force scan
    // of the corpus inside the timed body
    val p = formatted("q75_ann_lsh")
    assert(p.contains("LocalTableScan") || p.contains("BroadcastExchange"),
      s"pinned truth not a local/broadcast relation:\n$p")
  }

  test("IVF-PQ: cell-pruned ADC is equi-joins + broadcast LUT, no cartesian (q116)") {
    val p = formatted("q116_ann_ivfpq")
    assert(!p.contains("CartesianProduct"), s"cartesian in IVF-PQ plan:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"LUT/codebook side did not broadcast:\n$p")
  }

  test("incremental dedup joins the batch against the index on (band,key), no cartesian (q117)") {
    val p = formatted("q117_incremental_dedup")
    assert(!p.contains("CartesianProduct"), s"cartesian in incremental dedup plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in incremental dedup plan:\n$p")
    assert(p.contains("Scan parquet"), s"persisted index not scanned from parquet:\n$p")
  }

  test("incremental dedup probe PRUNES the partitioned index scan (q117)") {
    // the persisted index is laid out partitionBy(band, pkey); the batch's
    // touched pkeys become a static isin over the partition column, so the
    // index scan must show non-empty PartitionFilters on pkey — a pruned
    // directory read, not a full index pass (the 100 TB probe shape)
    val p = formatted("q117_incremental_dedup")
    val scanLines = p.linesIterator.filter(_.contains("PartitionFilters")).toList
    assert(scanLines.exists(l => l.contains("pkey") &&
        !l.contains("PartitionFilters: []")),
      s"index scan not partition-pruned on pkey:\n$p")
  }

  test("quality keeper composes clusters x quality without any cartesian (q120)") {
    val p = formatted("q120_quality_keeper")
    assert(!p.contains("CartesianProduct"), s"cartesian in keeper plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in keeper plan:\n$p")
  }

  test("forecast CV grids shuffle once on segment, no cartesian (q110/q114)") {
    Seq("q110_forecast_cv", "q114_forecast_grid2").foreach { name =>
      val p = formatted(name)
      assert(!p.contains("CartesianProduct"), s"cartesian in $name:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in $name:\n$p")
    }
  }

  test("decontamination joins the corpus against broadcast eval grams (q84)") {
    val p = formatted("q84_decontaminate")
    assert(!p.contains("CartesianProduct"), s"cartesian in decontaminate plan:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"eval gram set did not broadcast:\n$p")
  }

  test("no driver-side memory sink anywhere in src/main") {
    // the streaming rollup must write through a distributed sink; a
    // format("memory") sink materializes the aggregate on the driver
    val srcRoot = java.nio.file.Path.of("src/main/scala")
    val offenders = java.nio.file.Files.walk(srcRoot).iterator()
    val bad = scala.jdk.CollectionConverters.IteratorHasAsScala(offenders).asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => java.nio.file.Files.readString(p).contains("format(\"memory\")"))
      .toList
    assert(bad.isEmpty, s"memory sink found in: ${bad.mkString(", ")}")
  }

  test("nested struct-field predicate pushes down (P7 shape)") {
    // P7: predicate on a nested field reaches the scan as a pushed filter
    val df = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), struct(col("label").as("l")).as("m"))
      .filter(col("m.l") > 5)
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(label), GreaterThan(label,5)]"),
      s"nested predicate not pushed:\n$p")
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // The hot-key contract at 100 TB: when one join key dominates, AQE's
    // OptimizeSkewedJoin splits that shuffle partition into chunks and
    // replicates the matching dim rows — no code change, no salting
    // needed for the moderate case (q152's explicit salting covers the
    // extreme one). Thresholds lowered to prove the mechanism on test
    // data; broadcast disabled so the join actually sort-merges.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // 90% of fact rows share key 1 — one hot shuffle partition
      val fact = spark.range(0, 300000)
        .select(when(pmod(col("id"), lit(10)) < 9, 1L).otherwise(col("id")).as("k"),
          col("id").as("v"))
      val dim = spark.range(0, 2000).select(col("id").as("k"),
        (col("id") * 2).as("w"))
      val joined = fact.join(dim, "k")
      // execute THIS QueryExecution (count() would spawn a fresh one)
      // so AQE finalizes the adaptive plan
      assert(joined.collect().length > 0)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"expected AQE skew-join split in the final plan:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("runtime bloom-filter semi-join reduction injects on a shuffled join") {
    // The 100 TB fact⋈filtered-dim shape: Catalyst's InjectRuntimeFilter
    // builds a bloom filter from the selective dim side and pushes a
    // might_contain predicate into the fact scan — rows that cannot
    // match never reach the shuffle. Production thresholds (10 GB
    // application-side scan) are sized for clusters; lowered here to
    // prove the mechanism on test data, with broadcast disabled so the
    // join actually shuffles (broadcast joins don't need the filter).
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val dim = t(spark, sfDir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val fact = t(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity")
      val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"no runtime bloom filter on the fact side:\n$p")
      assert(joined.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("surprisal LM join partial-aggregates the token shuffle (q166)") {
    val p = formatted("q166_surprisal_filter")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"token counting lost its map-side combine:\n$p")
    assert(!p.toLowerCase.contains("cartesianproduct") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"unexpected cartesian in the LM join:\n$p")
  }

  test("dup-span gram survivors prune on ONE gram exchange, no join (q168)") {
    // r17: cross-doc duplication decided by two window functions over a
    // single gram-keyed exchange (stress-measured faster than both the
    // checkpoint+LeftSemi r16 shape and recompute+LeftSemi; no
    // corpus-sized barrier). The pin: no join operator anywhere, and
    // exactly one gram-hash exchange feeds the window pair.
    val p = formatted("q168_dup_spans")
    assert(!p.contains("Join"), s"gram survivor pruning grew a join:\n$p")
    assert("hashpartitioning\\(gram".r.findAllIn(p).length == 1,
      s"expected exactly one gram exchange:\n$p")
  }

  test("zone-map probe broadcasts the surviving zones (q170)") {
    val p = formatted("q170_zonemap_skip")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"zone semi-join did not broadcast the sidecar:\n$p")
  }

  test("CMS estimate probes broadcast the one-row sketch (q167)") {
    val p = formatted("q167_count_min")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"sketch cross-join is not broadcast:\n$p")
  }

  test("PMI vocab joins stay equi-joins; no cartesian beyond the two 1-row broadcasts (q174)") {
    val p = formatted("q174_pmi_collocations")
    val cartesians = "CartesianProduct".r.findAllIn(p).length
    assert(cartesians == 0, s"cartesian in PMI plan:\n$p")
  }

  test("q193 classifier: one map-side-combined doc exchange, no weight join") {
    // r16: scoring moved from interpreted per-doc aggregate() folds to a
    // codegen'd explode + groupBy(doc) — the plan's ONE data exchange
    // carries |docs| partially-aggregated rows (plus the published sort);
    // the closed-form weights still never join or broadcast.
    val p = formatted("q193_linear_classifier")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"classifier plan grew a data exchange:\n$p")
    assert(p.contains("partial_sum"),
      s"classifier lost its map-side combine:\n$p")
    assert(!p.contains("Join"), s"classifier plan grew a weight join:\n$p")
  }

  test("q205 bitmap build partial-aggregates bit_or before the exchange") {
    val p = formatted("q205_bitmap_index")
    assert(p.contains("partial_bit_or"),
      s"bitmap build lost its map-side combine:\n$p")
  }

  test("q209 hard negatives broadcast the bounded query set (no shuffle join)") {
    val p = formatted("q209_hard_negatives")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"query set did not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"hard-negative scoring fell into a shuffle join:\n$p")
  }

  test("q207 multi-touch carries via one user-key window, no range join") {
    val p = formatted("q207_multitouch")
    assert(!p.toLowerCase.contains("cartesianproduct"),
      s"multi-touch plan grew a cartesian:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"no window operator in the carry plan:\n$p")
  }

  test("q293 threshold curve: candidates equi-join, never a cartesian") {
    val p = formatted("q293_dedup_threshold_curve")
    assert(!p.toLowerCase.contains("cartesianproduct"),
      s"curve verify grew a cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"curve verify fell into a nested loop:\n$p")
  }

  test("q294 batching ranks are two-phase: no single-partition corpus Window") {
    // the corpus-sized frames must never sort in ONE partition: every
    // Window in the plan partitions by a key (the per-range pid);
    // a global-order Window would print 'Window [...], [x ASC ...]'
    // with an empty partition spec — assert the known bad shape out
    val df = SparkEntry.queries("q294_batch_padding")(spark, sfDir)
    val analyzed = df.queryExecution.optimizedPlan.toString
    val badGlobal = analyzed.linesIterator.exists(l =>
      l.contains("windowspecdefinition(") && !l.contains("pid#"))
    assert(!badGlobal, s"global unpartitioned Window over the corpus:\n$analyzed")
  }
}
