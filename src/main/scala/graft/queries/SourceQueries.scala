package graft.queries

import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Scratch
import graft.util.Tables._

/** Sources/sinks + remaining operator coverage (SURVEY §2.1 S3/S5-S7/
  * S13/S14/S16, §2.3 J6, §2.4 A16/A17, §2.9 F8): CSV/TSV-gz/JSON round
  * trips, scoped temp tables, catalog-driven constants, array-literal
  * laterals, pivot-wide, dedup-min-wins, per-segment model fitting.
  */
object SourceQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The forecasting/trend fixture: `events` grouped per day and
    * event_type as (segment, x = days since 1970-01-01 as `xType`). */
  private def eventDays(s: SparkSession, dir: String, xType: DataType) =
    t(s, dir, "events")
      .groupBy(col("event_type").as("segment"),
        datediff(col("ts").cast(DateType),
          lit("1970-01-01").cast(DateType)).cast(xType).as("x"))

  /** [[eventDays]] with y = the day's exact decimal value sum. */
  private def dailySeries(s: SparkSession, dir: String, xType: DataType): DataFrame =
    eventDays(s, dir, xType).agg(dsum(col("value")).as("y"))

  /** [[dailySeries]] in DuckDB SQL, the oracle side. */
  private def dailySeriesSql(xType: String): String =
    s"""SELECT event_type AS segment,
       |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS $xType) AS x,
       |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS y
       |  FROM events GROUP BY 1, 2""".stripMargin

  val queries: Map[String, Q] = Map(
    // Small-file compaction (the streaming-sink hygiene op): a freshly
    // fragmented 64-file copy of orders is rewritten to
    // ⌈bytes/target⌉ balanced files with rows preserved exactly.
    // File counts are environment facts, so the published columns are
    // the CONTRACT booleans (q133 pattern) plus the exact row count.
    "q165_compaction" -> ((s, dir) => {
      import graft.operators.Compaction
      val work = Scratch.fresh(s"compact|$dir") + "/tbl"
      t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        .repartition(64).write.parquet(work)
      val (nb, na, rows) = Compaction.compact(s, work,
        targetBytes = 1L * 1024 * 1024)
      import s.implicits._
      Seq((rows, nb, na)).toDF("n_rows", "nb", "na")
        .select(col("n_rows"),
          (col("nb") === 64).as("fragmented_ok"),
          (col("na") < col("nb")).as("reduced"),
          (col("na") <= 8).as("small"))
    }),

    // ORC source/sink round trip (S5/S13 family, columnar variant):
    // a lineitem projection is staged to ORC once per (JVM, sf), read
    // back through Spark's native ORC reader, and aggregated — the
    // oracle computes the same aggregate from the parquet table, so a
    // lossy round trip (types, nulls, decimals) turns the row red.
    "q169_orc_roundtrip" -> ((s, dir) => {
      val path = Scratch.once(s"orc|$dir") { p =>
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_returnflag", "l_quantity",
            "l_extendedprice")
          .write.mode("overwrite").orc(p)
      }
      s.read.orc(path)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(LongType)).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_returnflag")
    }),

    // binaryFile source (the multimodal ingestion entry point): one
    // blob file per nation (content = the UTF-8 name bytes) staged
    // once per (JVM, sf), read back through Spark's binaryFile format
    // (path/length/content columns), and summarized. The oracle
    // recomputes the expected byte totals from the nation table — a
    // lossy read (truncation, encoding, missing files) turns the row
    // red. Scale shape: binaryFile lists + reads distributed; per-file
    // rows carry bounded metadata, content stays columnar-opaque.
    "q183_binaryfile_source" -> ((s, dir) => {
      val path = Scratch.once(s"blobs|$dir") { p =>
        t(s, dir, "nation").select("n_nationkey", "n_name").collect()
          .foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(p,
                f"nation_${r.getAs[Number](0).longValue}%02d.bin"),
              r.getString(1).getBytes("UTF-8"))
          }
      }
      s.read.format("binaryFile").load(path)
        .select(col("length"), length(col("content")).cast(LongType)
          .as("content_len"))
        .agg(count(lit(1)).as("n_files"),
          sum(col("length")).as("total_bytes"),
          sum(col("content_len")).as("read_bytes"),
          (sum(col("length")) === sum(col("content_len")))
            .as("content_complete"))
    }),

    // Zone-map (min/max) data skipping: events are zoned by ingestion
    // order (event_id div 500 — physically correlated with ts), the
    // per-zone [min,max] ts sidecar is persisted once, and a 3-day
    // range scan consults it to skip zones that provably contain no
    // matching rows. Published: zone counts (pruning really fired) and
    // the matched aggregate THROUGH the pruned path — identical to the
    // oracle's full scan by construction.
    "q170_zonemap_skip" -> ((s, dir) => {
      import graft.functions.BqShims.epochMicros
      val e = t(s, dir, "events")
        .select(col("event_id"), col("value"),
          epochMicros(col("ts")).as("tsm"))
        .withColumn("zone", expr("event_id div 500"))
      val statsPath = Scratch.once(s"zonemap|$dir") { p =>
        graft.operators.ZoneMap.build(e, "zone", "tsm")
          .write.mode("overwrite").parquet(p)
      }
      val stats = s.read.parquet(statsPath)
      val day = 86400L * 1000000L
      val bounds = e.agg((min(col("tsm")) + lit(10L * day)).as("lo"))
        .select(col("lo"), (col("lo") + lit(3L * day)).as("hi"))
      val keep = graft.operators.ZoneMap.overlapping(
        stats.crossJoin(broadcast(bounds)), col("lo"), col("hi"))
      val matched = e.join(broadcast(keep.select("zone", "lo", "hi")),
          Seq("zone"))
        .filter(col("tsm") >= col("lo") && col("tsm") <= col("hi"))
        .agg(count(lit(1)).as("matched_rows"),
          sum(floor(col("value") * 100).cast(LongType)).as("matched_cents"))
      stats.agg(count(lit(1)).as("n_zones"))
        .crossJoin(keep.agg(count(lit(1)).as("zones_read")))
        .crossJoin(matched)
        .withColumn("pruned", col("zones_read") < col("n_zones"))
    }),

    // Persisted Bloom-filter sidecar pruning — the membership analogue
    // of the q133/q146 sketch cubes: "users who ever purchased" is
    // distilled once into ≤ m lit bit positions; later scans prune by
    // broadcasting those positions instead of joining the build side.
    // The md5-positioned filter is fully deterministic, so the oracle
    // replays build, probe, AND the false positives bit-for-bit.
    "q157_bloom_prune" -> ((s, dir) => {
      import graft.operators.BloomPrune
      val (k, m) = (4, 4096)
      val path = Scratch.once(s"bloom|$dir") { p =>
        BloomPrune.build(
            t(s, dir, "orders")
              .filter(col("o_orderpriority") === "1-URGENT")
              .select("o_custkey").distinct(), "o_custkey", k, m)
          .write.mode(SaveMode.Overwrite).parquet(p)
      }
      val probe = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey")).distinct()
      val cand = BloomPrune.candidates(probe, "o_custkey",
        s.read.parquet(path), k, m)
      val members = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey").distinct()
      // true members that are also customers (custkeys all are)
      probe.agg(count(lit(1)).as("n_probed"))
        .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
        .crossJoin(members.agg(count(lit(1)).as("n_true")))
        .select(col("n_probed"), col("n_candidates"), col("n_true"),
          (col("n_candidates") - col("n_true")).as("n_false_pos"),
          ((col("n_candidates") - col("n_true")).cast(DoubleType) /
            (col("n_probed") - col("n_true"))).as("fp_rate"))
    }),
    // Mergeable QUANTILE sketch rollup — q133's percentile sibling:
    // per-(event_type, day) sparse bin-histograms persisted once, any
    // range query merges sketch rows (native hist_sum aggregate) and
    // reads the rank-p bin off the cumulative counts — error < binWidth
    // by construction (the chosen bin CONTAINS the true rank element),
    // so unlike HLL the estimate itself is deterministic and the oracle
    // replays est AND exact AND the bound booleans bit-for-bit.
    "q146_quantile_rollup" -> ((s, dir) => {
      import graft.operators.QuantileSketch
      val w = 0.5
      val path = Scratch.once(s"qsketch|$dir") { p =>
        QuantileSketch.build(
            t(s, dir, "events").withColumn("day", to_date(col("ts"))),
            Seq("event_type", "day"), "value", w)
          .write.mode(SaveMode.Overwrite).parquet(p)
      }
      val est = QuantileSketch.mergeEstimate(s.read.parquet(path),
        Seq("event_type"), w,
        Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("value")
      val ranked = t(s, dir, "events").select(col("event_type"), col("value"))
        .withColumn("rn", row_number().over(wr))
      val targets = est.select(col("event_type"),
        expr("(1 * n_rows + 1) div 2").as("t50"),
        expr("(9 * n_rows + 9) div 10").as("t90"),
        expr("(99 * n_rows + 99) div 100").as("t99"))
      val exact = ranked.join(broadcast(targets), "event_type")
        .groupBy("event_type")
        .agg(min(when(col("rn") === col("t50"), col("value"))).as("exact_p50"),
          min(when(col("rn") === col("t90"), col("value"))).as("exact_p90"),
          min(when(col("rn") === col("t99"), col("value"))).as("exact_p99"))
      est.join(exact, "event_type")
        .select(col("event_type"), col("n_rows"),
          col("n_sketches").as("n_days"),
          col("est_p50"), col("est_p90"), col("est_p99"),
          col("exact_p50"), col("exact_p90"), col("exact_p99"),
          (col("exact_p50") >= col("est_p50") &&
            col("exact_p50") < col("est_p50") + w).as("ok_p50"),
          (col("exact_p90") >= col("est_p90") &&
            col("exact_p90") < col("est_p90") + w).as("ok_p90"),
          (col("exact_p99") >= col("est_p99") &&
            col("exact_p99") < col("est_p99") + w).as("ok_p99"))
        .orderBy("event_type")
    }),
    // Mergeable-sketch rollup — the 100 TB pre-aggregation contract:
    // per-(event_type, day) HLL sketches of the user set are built in
    // ONE scan and PERSISTED (the daily cube a 1000-executor job would
    // append each night); arbitrary-range distinct-user questions are
    // then answered by merging the tiny sketch rows — never rescanning
    // the fact table. The DataSketches estimate is NOT bit-stable under
    // repartitioning (HIP vs post-union estimator — see
    // SketchRollupSpec), so the published column is the q106-style
    // error-bound BOOLEAN (lgK=12 → rsd ≈ 0.8 %; bound 5 %), never the
    // raw estimate. sum_daily_users > exact_users is the
    // point: naive daily-count sums double-count movers, sketch merges
    // don't.
    "q133_sketch_rollup" -> ((s, dir) => {
      val path = Scratch.once(s"sketch|$dir") { p =>
        t(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"),
            count_distinct(col("user_id")).as("daily_users"))
          .write.mode(SaveMode.Overwrite).parquet(p)
      }
      val merged = s.read.parquet(path)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum(col("daily_users")).as("sum_daily_users"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = t(s, dir, "events").groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("exact_users"))
      merged.join(exact, "event_type")
        .select(col("event_type"), col("n_days"), col("sum_daily_users"),
          col("exact_users"),
          (abs(col("est") - col("exact_users")).cast(DoubleType) /
            col("exact_users").cast(DoubleType) <= 0.05)
            .as("est_within_bound"))
        .orderBy("event_type")
    }),
    // ANALYZE-style stats collection over orders: one distributed agg
    // pass (multi-DISTINCT expand — the standard ANALYZE cost), k
    // metadata rows out. Ambiguous string forms pre-cast (double →
    // DECIMAL(18,2), timestamp → DATE) so min/max strings are portable.
    "q136_table_stats" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("o_price"),
        to_date(col("o_orderdate")).as("o_day"))
      graft.operators.TableStats.collect(o,
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_price", "o_day"))
        .orderBy("column_name")
    }),

    // S5/S6 — schema'd CSV source with header, overwrite-by-run semantics
    // (Tranco CSV import etl/siterank.py:138-159; AMO CSV load
    // extensions/main.py:683-747): parquet → csv → csv-read → aggregate.
    "q96_csv_roundtrip" -> ((s, dir) => {
      val path = Scratch.fresh(s"csv|$dir")
      t(s, dir, "customer").write.mode(SaveMode.Overwrite)
        .option("header", "true").csv(path)
      val schema = StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType)))
      s.read.option("header", "true").schema(schema).csv(path)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("total_bal"))
        .orderBy("c_mktsegment")
    }),

    // Schema-contract diff between two parquet generations (the
    // registry check a schema-evolution gate runs BEFORE q203's merged
    // read): real footer metadata from both generations, diffed
    // column-by-column into added/removed/kept rows with types — the
    // "what changed" report a data contract reviews. Metadata-only:
    // reads two footers, never a row.
    "q239_schema_contract" -> ((s, dir) => {
      val path = Scratch.fresh(s"contract|$dir")
      val o = t(s, dir, "orders").limit(10)
      val gen1 = o.select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("legacy"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
      val gen2 = o.select(col("o_orderkey").as("k"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("price"),
        col("o_orderstatus").as("status"))
      gen1.write.mode(SaveMode.Overwrite).parquet(s"$path/g1")
      gen2.write.mode(SaveMode.Overwrite).parquet(s"$path/g2")
      val s1 = s.read.parquet(s"$path/g1").schema
      val s2 = s.read.parquet(s"$path/g2").schema
      val m1 = s1.fields.map(f => f.name -> f.dataType.simpleString).toMap
      val m2 = s2.fields.map(f => f.name -> f.dataType.simpleString).toMap
      val rows = (m1.keySet ++ m2.keySet).toSeq.sorted.map { c =>
        val change =
          if (!m1.contains(c)) "added"
          else if (!m2.contains(c)) "removed"
          else if (m1(c) != m2(c)) "retyped"
          else "kept"
        (c, m1.getOrElse(c, null), m2.getOrElse(c, null), change)
      }
      import s.implicits._
      rows.toDF("column", "gen1_type", "gen2_type", "change")
        .orderBy("column")
    }),

    // Dictionary normalization round trip (string interning as a table
    // rewrite): the low-cardinality o_orderpriority column extracts
    // into a dimension (distinct values, dense ids by sort order), the
    // fact rewrites to carry the id, and the query proves the
    // round-trip — joining back reproduces the original aggregate
    // exactly — alongside the size win (n_fact·id_bytes vs string
    // bytes, integers). The extract is one partial-aggregatable
    // distinct; the rewrite is a broadcast join at any fact size.
    "q212_dictionary_normalize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority").as("prio"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
      val dim = o.select("prio").distinct()
        .withColumn("prio_id",
          row_number().over(Window.orderBy("prio")).cast(LongType))
      val fact = o.join(broadcast(dim), "prio")
        .select(col("o_orderkey"), col("prio_id"), col("price"))
      fact.join(broadcast(dim), "prio_id")
        .groupBy("prio")
        .agg(count(lit(1)).as("n"), sum("price").cast(DoubleType)
          .as("total"),
          sum(length(col("prio")).cast(LongType)).as("string_bytes"),
          (count(lit(1)) * 8).as("id_bytes"))
        .withColumn("dict_wins", col("id_bytes") < col("string_bytes"))
        .orderBy("prio")
    }),

    // Corrupt-record-tolerant JSON ingestion (PERMISSIVE mode): a feed
    // of one JSON object per line with deliberately broken lines mixed
    // in (truncated object, bare text, wrong-type field). The read
    // surfaces bad lines in _corrupt_record instead of failing the
    // job — the dead-letter split every production feed needs — and
    // the query publishes the valid aggregate NEXT TO the quarantine
    // count. The corrupt lines are constructed (3 per nation batch),
    // so the oracle knows both sides exactly. try_cast keeps the
    // wrong-type row in the valid set with a NULL field, matching
    // permissive semantics.
    "q211_corrupt_records" -> ((s, dir) => {
      val path = Scratch.fresh(s"badjson|$dir")
      val n = t(s, dir, "nation")
      val good = n.select(to_json(struct(col("n_nationkey").as("k"),
        col("n_name").as("name"), col("n_regionkey").as("r"))).as("line"))
      val bad = s.createDataFrame(java.util.Arrays.asList(
          org.apache.spark.sql.Row("{\"k\": 900, \"name\": \"TRUNCAT"),
          org.apache.spark.sql.Row("not json at all"),
          org.apache.spark.sql.Row("{\"k\": \"NaN-key\", \"name\": \"BADTYPE\", \"r\": 0}")),
        StructType(Seq(StructField("line", StringType))))
      good.unionByName(bad).coalesce(1)
        .write.mode(SaveMode.Overwrite).text(path)
      val schema = StructType(Seq(
        StructField("k", StringType), StructField("name", StringType),
        StructField("r", LongType),
        StructField("_corrupt_record", StringType)))
      val read = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
      read.select(
          (col("_corrupt_record").isNotNull && col("k").isNull &&
            col("name").isNull).as("quarantined"),
          expr("try_cast(k AS BIGINT)").as("kk"), col("r"))
        .groupBy("quarantined")
        .agg(count(lit(1)).as("n_rows"), sum("kk").as("sum_key"),
          count_if(col("kk").isNull && !col("quarantined"))
            .as("n_null_key"))
        .orderBy("quarantined")
    }),

    // Schema-evolution merged read: two parquet generations of one
    // table — gen1 written BEFORE a column existed, gen2 after — read
    // together with mergeSchema; gen1 rows surface the added column as
    // NULL, and the aggregate proves the union semantics. The
    // schema-on-read upgrade path every long-lived 100 TB table walks
    // (the alternative is rewriting history); the footer-merge cost is
    // per-FILE, not per-row.
    "q203_schema_evolution" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val path = Scratch.fresh(s"schevo|$dir")
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
        .write.mode(SaveMode.Overwrite).parquet(s"$path/gen=1")
      o.filter(col("o_orderkey") % 2 =!= 0)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("price"),
          col("o_orderstatus").as("status"))
        .write.mode(SaveMode.Overwrite).parquet(s"$path/gen=2")
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum("price").cast(DoubleType)
          .as("total_price"), sum("k").as("sum_key"))
        .orderBy("status")
    }),

    // S7 — gzipped TSV source (pg_dump_to_parquet.py:104-112: read
    // *.dat.gz tab-separated with explicit schema).
    "q97_tsv_gz" -> ((s, dir) => {
      val path = Scratch.fresh(s"tsv|$dir")
      t(s, dir, "nation")
        .select(col("n_nationkey").cast(StringType), col("n_name"))
        .write.mode(SaveMode.Overwrite)
        .option("sep", "\t").option("compression", "gzip").csv(path)
      val schema = StructType(Seq(
        StructField("key", LongType), StructField("name", StringType)))
      s.read.option("sep", "\t").schema(schema).csv(path)
        .orderBy("key")
    }),

    // P7 as an oracle row (r15 ask #5; PlanAuditSpec keeps the
    // plan-level assertion) — nested-struct predicate pushdown on a
    // REAL nested parquet: orders staged as {k, info:{status, price,
    // meta:{prio}}}, read back with predicates on both nesting levels.
    // The query body REQUIREs the executed plan carries both nested
    // fields in PushedFilters (a silently-unpushed scan fails the round
    // loudly, q310 discipline); the oracle recomputes the same
    // aggregate from the flat orders table, proving the nested
    // round-trip + filtered scan is lossless.
    "q322_nested_pushdown" -> ((s, dir) => {
      val path = Scratch.fresh(s"nested|$dir")
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        struct(col("o_orderstatus").as("status"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("price"),
          struct(col("o_orderpriority").as("prio")).as("meta")).as("info"))
        .write.mode(SaveMode.Overwrite).parquet(path)
      val nested = s.read.parquet(path)
        .filter(col("info.status") =!= "O" &&
          col("info.meta.prio").startsWith("1"))
      val p = nested.queryExecution.executedPlan.toString
      require(p.contains("PushedFilters") &&
        p.contains("info.status") && p.contains("info.meta.prio"),
        s"nested predicates not pushed to the parquet scan:\n$p")
      nested.groupBy(col("info.status").as("status"))
        .agg(count(lit(1)).as("n"), dsum(col("info.price")).as("total"))
        .orderBy("status")
    }),

    // S3/S13 — JSON-rows load (driver rows + explicit schema,
    // bqhelpers.py:564-593) unioned with table data, through a JSON
    // sink round-trip (experiments-monitoring export.py:70-90).
    "q98_json_rows" -> ((s, dir) => {
      val path = Scratch.fresh(s"json|$dir")
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType), StructField("n_name", StringType)))
      val driverRows = s.createDataFrame(
        java.util.List.of(
          org.apache.spark.sql.Row(100, "ATLANTIS"),
          org.apache.spark.sql.Row(101, "ELDORADO")),
        schema)
      t(s, dir, "nation").select("n_nationkey", "n_name")
        .unionByName(driverRows)
        .write.mode(SaveMode.Overwrite).json(path)
      s.read.schema(schema).json(path).orderBy("n_nationkey")
    }),

    // S3++ — JSON-rows ingested as ONE VariantType column (Spark 4
    // `singleVariantColumn`): the schemaless twin of q98. The reader
    // binary-encodes each JSON row ONCE at scan time; all downstream
    // field accesses are typed variant path reads — no per-expression
    // string re-parse and no up-front schema contract, which is how a
    // 100 TB semi-structured feed should land before its schema settles.
    // Round-trip: nation → JSON lines on disk → variant scan → typed
    // extraction → aggregate; the oracle recomputes from the parquet
    // table, proving the variant decode is lossless.
    "q275_variant_ingest" -> ((s, dir) => {
      val path = Scratch.fresh(s"varjson|$dir")
      t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
        .write.mode(SaveMode.Overwrite).json(path)
      s.read.option("singleVariantColumn", "v").json(path)
        .select(
          graft.functions.BqShims.variantGet(col("v"), "$.n_nationkey", "int").as("n_nationkey"),
          graft.functions.BqShims.variantValue(col("v"), "$.n_name").as("n_name"),
          graft.functions.BqShims.variantGet(col("v"), "$.n_regionkey", "int").as("n_regionkey"))
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n_nations"),
          min("n_name").as("first_name"),
          max("n_nationkey").cast(LongType).as("max_key"))
        .orderBy("n_regionkey")
    }),

    // S16 — scoped temp table lifetime (bqhelpers.py:843-909): register,
    // consume, drop; the result must survive the drop (materialized by
    // the driver write), the view must be gone after.
    "q99_temp_table" -> ((s, dir) => {
      val name = "tmp_" + java.util.UUID.randomUUID().toString.replace("-", "")
      t(s, dir, "region").createOrReplaceTempView(name)
      val out = s.table(name).groupBy().agg(count(lit(1)).as("n_regions"))
        .localCheckpoint(true)
      s.catalog.dropTempView(name)
      require(!s.catalog.tableExists(name), "temp view must be dropped")
      out
    }),

    // S14 — catalog listing drives a constant (CRUX latest-month probe,
    // etl/siterank.py:77-94 over INFORMATION_SCHEMA.TABLES): register
    // month-suffixed views, resolve the latest via the catalog.
    "q100_catalog_probe" -> ((s, dir) => {
      Seq(202407L, 202409L, 202408L).foreach { m =>
        t(s, dir, "region").limit(1).createOrReplaceTempView(s"crux_$m")
      }
      // exact month-suffix match: the session catalog may also hold the
      // q109 corpus deploy's crux_imported__* views, which are not probes
      val latest = s.catalog.listTables()
        .filter(col("name").rlike("^crux_\\d+$"))
        .select(regexp_extract(col("name"), "crux_(\\d+)", 1).cast(LongType).as("yyyymm"))
        .agg(max("yyyymm").as("yyyymm"))
      latest
    }),

    // J6 — array-literal lateral join (etl/siterank.py:170-179:
    // JOIN UNNEST(["global","us",...]) USING(country_code)).
    "q101_array_literal_join" -> ((s, dir) => {
      val wanted = s.range(1).select(explode(array(
        lit("REGION_0"), lit("REGION_2"), lit("NOWHERE"))).as("r_name"))
      val r = t(s, dir, "region")
      wanted.join(r, Seq("r_name"), "left")
        .select(col("r_name"), col("r_regionkey"))
        .orderBy("r_name")
    }),

    // A16 — pivot-wide with first() (prophet_forecast.py:300-321 legacy
    // wide format: one column per measure).
    "q102_pivot_first" -> ((s, dir) => {
      val long = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).cast(DoubleType).as("value"))
      long.groupBy("day")
        .pivot("event_type", Seq("click", "purchase"))
        .agg(first(col("value")))
        .orderBy("day")
    }),

    // A17 — dedup-by-key min-wins + join back the FULL first row
    // (webcompat_user_reports/views/user_reports_dedupe/view.sql:1-6).
    "q103_dedup_min_join_back" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val firstTs = e.groupBy(col("user_id").as("uid"))
        .agg(min(col("ts")).as("first_ts"))
      e.join(firstTs, e("user_id") === firstTs("uid") && e("ts") === firstTs("first_ts"))
        .groupBy(col("uid"))
        .agg(min(col("event_id")).as("first_event_id"))
        .orderBy("uid")
    }),

    // Approximate scale-path variants (SURVEY §2.4 note: absent in the
    // reference — exact everywhere — but the free Spark upgrade for
    // 100 TB). Oracle-gated via deterministic error bounds (the ANN
    // recall-gate idea): the sketches are deterministic (HLL register
    // maxima and quantile-summary merges are order-insensitive here),
    // but not SQL-recomputable, so the query emits the EXACT values
    // (DuckDB recomputes those independently) plus booleans asserting
    // the approximate values sit inside their published error bounds —
    // |HLL − exact| ≤ 15 % (3× the default 5 % rsd) and approx-p50
    // inside the exact [p45, p55] rank band (accuracy 1000 ⇒ rank error
    // ≤ 0.1 %). A regression in either sketch turns a boolean false →
    // hash mismatch → red row.
    "q106_approx_variants" -> ((s, dir) => {
      // The exact COUNT(DISTINCT) runs in its OWN aggregate, joined back
      // on the 5-row group key: mixed into the same agg as the
      // typed-imperative buffers (percentile, percentile_approx, HLL),
      // the planner's distinct rewrite expands the input and every
      // buffer pays it — measured 4.5 s fused vs 0.8 s split at sf0.1
      // for identical results (r16). The percentile pair also shares one
      // buffer via the array form.
      val o = t(s, dir, "orders")
      val base = o.groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n"),
          approx_count_distinct(col("o_custkey")).as("apx_cust"),
          percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("apx_p50"),
          expr("percentile(o_totalprice, array(0.45, 0.55))").as("pp"))
      val cd = o.groupBy("o_orderpriority")
        .agg(count_distinct(col("o_custkey")).as("exact_cust"))
      base.join(cd, Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("n"), col("exact_cust"),
          col("apx_cust"), col("apx_p50"),
          element_at(col("pp"), 1).as("p45"),
          element_at(col("pp"), 2).as("p55"))
        .select(col("o_orderpriority"), col("n"), col("exact_cust"),
          (abs(col("apx_cust") - col("exact_cust")).cast(DoubleType) /
            col("exact_cust").cast(DoubleType) <= 0.15).as("cust_within_bound"),
          (col("apx_p50") >= col("p45") && col("apx_p50") <= col("p55"))
            .as("p50_within_band"))
        .orderBy("o_orderpriority")
    }),

    // F8 — per-segment model fit via typed groups (the applyInPandas
    // boundary, funnel_forecast.py:75-155: independent models per
    // segment). Closed-form OLS of value on hour-of-day per event_type;
    // exact decimal sums inside the group function keep it
    // order-independent and oracle-comparable.
    "q104_segment_models" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_type"), hour(col("ts")).as("x"), col("value").as("y"))
      val grouped = e.groupByKey(r => r.getString(0))(Encoders.STRING)
      val out = grouped.mapGroups { (key, rows) =>
        var n = 0L
        var sx = BigDecimal(0); var sy = BigDecimal(0)
        var sxx = BigDecimal(0); var sxy = BigDecimal(0)
        rows.foreach { r =>
          val x = BigDecimal(r.getInt(1))
          val y = BigDecimal.valueOf(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          n += 1; sx += x; sy += y; sxx += x * x; sxy += x * y
        }
        // switch to double for the final arithmetic, fixed op order
        val (dn, dsx, dsy, dsxx, dsxy) =
          (n.toDouble, sx.toDouble, sy.toDouble, sxx.toDouble, sxy.toDouble)
        val slope = (dn * dsxy - dsx * dsy) / (dn * dsxx - dsx * dsx)
        val intercept = (dsy - slope * dsx) / dn
        (key, n, slope, intercept)
      }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong,
        Encoders.scalaDouble, Encoders.scalaDouble))
        .toDF("event_type", "n", "slope", "intercept")
      out.select(col("event_type"), col("n"),
          round(col("slope"), 8).as("slope"), round(col("intercept"), 8).as("intercept"))
        .orderBy("event_type")
    }),

    // F8+ — per-segment grid search with rolling-origin crossvalidation
    // (funnel_forecast.py:365-412 _auto_tuning + :345-363 pcnt-bias
    // metric): daily series per event_type, grid {mean,linear}×{all,w8},
    // 3-cutoff CV, argmin |mean pcnt bias| selection, winner refits and
    // forecasts 3 days. Every sum is decimal-exact or 2-term IEEE, so the
    // whole selection pipeline is engine-reproducible and oracle-checked.
    "q110_forecast_cv" -> ((s, dir) => {
      import graft.jobs.SegmentForecast
      implicit val obsEnc = Encoders.product[SegmentForecast.Obs]
      val obs = dailySeries(s, dir, DoubleType).select(col("segment"), col("x"), col("y"))
        .as[SegmentForecast.Obs]
      SegmentForecast.runCV(obs).toDF()
        .select(col("segment"), col("kind"), col("window"),
          round(col("cv_bias"), 8).as("cv_bias"),
          round(col("f1"), 6).as("f1"), round(col("f2"), 6).as("f2"),
          round(col("f3"), 6).as("f3"))
        .orderBy("segment")
    }),

    // F8+++ — Prophet's TREND CHANGEPOINT element (DELTAS §2's last
    // structural gap next to prophet_forecast.py): continuous
    // piecewise-linear trend, ≤25 rank-spaced candidate changepoints
    // over the first 80% of each segment's series, least-SSE selection
    // — fit entirely relationally (candidate join + one sufficient-
    // stats groupBy + closed-form 3×3 Cramer as column arithmetic +
    // top-1 window), O(25·n) rows, no per-segment driver loop. Exact
    // integer/decimal sums → one double conversion → fixed-order IEEE
    // solve, replayed term-for-term by the oracle.
    "q274_changepoint_trend" -> ((s, dir) => {
      graft.operators.ChangepointTrend.fit(dailySeries(s, dir, LongType), k = 25)
    }),

    // F8++++ — JOINT two-changepoint trend (Prophet's multi-break
    // trend, restricted to the best PAIR rather than L1-shrunk over
    // all): candidate pairs c1 < c2 from a 10-wide rank-spaced grid,
    // 4×4 normal equations per pair via det4 Cramer column arithmetic,
    // argmin on the 9-dp rounded scale-free SSE. O(C(10,2)·n) rows —
    // constant fan-out, linear in the corpus. The oracle's determinant
    // SQL is GENERATED by the same cofactor expansion the engine's
    // det3/det4 use, so both engines run one IEEE chain (q276Oracle).
    "q276_changepoint2" -> ((s, dir) => {
      graft.operators.ChangepointTrend.fit2(dailySeries(s, dir, LongType), k = 10)
    }),

    // F8+++++ — greedy-forward k-changepoint trend, the L0 analog of
    // Prophet's L1 changepoint shrinkage (prophet_forecast.py:33-59,
    // DELTAS §2's last forecasting gap): breaks enter one at a time —
    // each round refits the FULL model exactly (normal equations grow
    // 3×3 → 4×4 → 5×5, Cramer chains generated in one shared text) and
    // stops when the best new break improves the rounded scale-free
    // SSE by < 2% (Prophet's sparse-changepoint prior as an explicit
    // rule). Engine and oracle run the SAME generated SQL; recovery of
    // planted breaks + early stop on a line are spec-pinned
    // (ChangepointGreedySpec).
    "q309_changepoint_greedy" -> ((s, dir) => {
      graft.operators.ChangepointTrend.fitGreedy(dailySeries(s, dir, LongType), k = 10)
    }),

    // Robust trend — Theil–Sen median-of-pairwise-slopes over the same
    // daily fixture: the estimator an anomaly pipeline fits so its
    // baseline cannot be bent by the anomalies themselves (~29%
    // breakdown vs OLS's 0). Slopes are single divisions of exact
    // deltas, the median is SELECTED (lower median by row_number), so
    // the oracle replays every comparison; O(n²) pairs per segment is
    // the right shape for bounded daily series (TheilSen scaladoc).
    "q315_theil_sen" -> ((s, dir) => {
      graft.operators.TheilSen.fit(dailySeries(s, dir, LongType))
    }),

    // Mann–Kendall trend gate — the non-parametric "is there a trend
    // at all" test run BEFORE fitting slopes (pairs with q315: a
    // segment failing this gate takes the mean model, not a slope fit
    // to noise). S and the tie-corrected 18·Var(S) are pure integer
    // sums; the α=0.05 two-sided verdict is a cross-multiplied integer
    // comparison (1.96 = 49/25 — no sqrt, no libm), so every engine
    // reaches the identical verdict.
    "q317_mann_kendall" -> ((s, dir) => {
      graft.operators.MannKendall.test(dailySeries(s, dir, LongType))
    }),

    // Kendall tau-b — rank correlation between two daily metrics per
    // segment (does spend co-move with activity?), the tie-aware form:
    // concordant/discordant/tied pair counts are PURE INTEGER sums over
    // the O(n²) within-segment day pairs (the bounded-series contract
    // q315/q317 share), and tau_b = (C − D) / √((n0−n1)(n0−n2)) is one
    // division whose √ is IEEE-correctly-rounded — unlike exp/ln, sqrt
    // is exact-portable, so the published tau hash-matches.
    "q320_kendall_tau" -> ((s, dir) => {
      val daily = eventDays(s, dir, LongType)
        .agg(dsum(col("value")).as("v"), count(lit(1)).as("c"))
      val a = daily.select(col("segment"), col("x").as("x1"),
        col("v").as("v1"), col("c").as("c1"))
      val b = daily.select(col("segment"), col("x").as("x2"),
        col("v").as("v2"), col("c").as("c2"))
      val pairs = a.join(b, Seq("segment")).filter(col("x1") < col("x2"))
        .withColumn("sv", signum((col("v2") - col("v1")).cast(DoubleType))
          .cast(LongType))
        .withColumn("sc", signum((col("c2") - col("c1")).cast(DoubleType))
          .cast(LongType))
      pairs.groupBy("segment")
        .agg(count(lit(1)).as("n0"),
          sum(when(col("sv") * col("sc") === 1L, 1L).otherwise(0L)).as("conc"),
          sum(when(col("sv") * col("sc") === -1L, 1L).otherwise(0L)).as("disc"),
          sum(when(col("sv") === 0L, 1L).otherwise(0L)).as("ties_v"),
          sum(when(col("sc") === 0L, 1L).otherwise(0L)).as("ties_c"))
        .select(col("segment"), col("n0"), col("conc"), col("disc"),
          col("ties_v"), col("ties_c"),
          round((col("conc") - col("disc")).cast(DoubleType) /
            sqrt(((col("n0") - col("ties_v")) *
              (col("n0") - col("ties_c"))).cast(DoubleType)), 9).as("tau_b"))
        .orderBy("segment")
    }),

    // MASE backtest — forecast-accuracy scoring the way M-competitions
    // do it: hold out each segment's LAST 3 days, score the
    // seasonal-naive (7-day-ago) forecaster on them, scale by the
    // in-sample one-step naive MAE (the denominator that makes error
    // comparable across segments of different magnitude). Absolute
    // errors stay EXACT DECIMAL through both sums; the published MASE
    // is one double division and the beats-naive verdict is a decimal
    // cross-multiplication — never a divide (q253/q189 discipline).
    "q318_mase_backtest" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = dailySeries(s, dir, LongType)
      val w = Window.partitionBy("segment").orderBy("x")
      val wSeg = Window.partitionBy("segment")
      val marked = daily
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wSeg))
        .withColumn("d1", abs(col("y") - lag("y", 1).over(w)))
        .withColumn("d7", abs(col("y") - lag("y", 7).over(w)))
      marked.groupBy("segment")
        .agg(max("n").as("n"),
          // in-sample one-step naive MAE numerator: train rows only
          // (rn <= n-3), first row has no lag -> n-4 diffs
          sum(when(col("rn") > 1 && col("rn") <= col("n") - 3, col("d1")))
            .as("train_sum"),
          sum(when(col("rn") > col("n") - 3, col("d7"))).as("test_sum"))
        // degenerate-segment guard (mirrored in the oracle): n<8 leaves
        // every 7-lag diff NULL (no scoreable test step) and n<=4 makes
        // the n-4 divisor zero/negative; a constant series (train_sum=0)
        // diverges cross-engine (Spark double/0 -> NULL, DuckDB -> inf).
        // MASE is undefined in all three cases, so drop those segments.
        .where(col("n") >= 8 && col("train_sum") > lit(0))
        .select(col("segment"), col("n"),
          round(col("train_sum").cast(DoubleType) /
            (col("n") - 4).cast(DoubleType), 6).as("train_mae"),
          round(col("test_sum").cast(DoubleType) / 3.0, 6).as("test_mae"),
          round((col("test_sum") * (col("n") - 4)).cast(DoubleType) /
            (col("train_sum") * 3).cast(DoubleType), 6).as("mase"),
          (col("test_sum") * (col("n") - 4) < col("train_sum") * 3)
            .as("beats_naive"))
        .orderBy("segment")
    }),

    // F8++ — the Prophet-shaped grid (funnel_forecast.py:365-412 sweeps
    // growth={linear,logistic} and seasonality): same CV selection as
    // q110 over {mean, linear, sat, seasonal}, where `sat` is a
    // saturating-growth model on an integer rational link (no exp/ln —
    // libm ulps differ across engines) and `seasonal` is linear trend +
    // day-of-week offsets from decimal-exact class sums. The full
    // fit→score→select→refit→forecast pipeline is recomputed in SQL.
    "q114_forecast_grid2" -> ((s, dir) => {
      import graft.jobs.SegmentForecast
      implicit val obsEnc = Encoders.product[SegmentForecast.Obs]
      val obs = dailySeries(s, dir, DoubleType).select(col("segment"), col("x"), col("y"))
        .as[SegmentForecast.Obs]
      SegmentForecast.runCV(obs, grid = SegmentForecast.wideGrid).toDF()
        .select(col("segment"), col("kind"),
          round(col("cv_bias"), 8).as("cv_bias"),
          round(col("f1"), 6).as("f1"), round(col("f2"), 6).as("f2"),
          round(col("f3"), 6).as("f3"))
        .orderBy("segment")
    }),

    // F8 closure — SEEDED predictive sample paths (prophet_forecast.py:
    // 52-59 predictive_samples: 1000 uncertainty paths per horizon step
    // from the fitted model, seed pinned at base_forecast.py:151-160):
    // the q110 CV winner refits on full history, its full-history
    // residuals form the bootstrap pool, and path i's step-h draw picks
    // pool index md5("segment|i|h") mod n — an engine-portable seeded
    // RNG, so DuckDB recomputes every draw. The 1000×3 matrix is then
    // reduced through the same row-axis mean/p10/p50/p90 HOFs as q61 —
    // fit → paths → summary, end-to-end oracle-checked.
    // F8 interval closure (r15 ask #2) — CHANGEPOINT-AWARE predictive
    // intervals: Prophet's interval semantics (prophet_forecast.py:
    // 52-59 — trend uncertainty grows past the last changepoint
    // because future slope shifts may occur) on the deterministic
    // md5-seeded sampler. The q274 single-changepoint fit supplies the
    // trend and the historical shift magnitude |b2|; each path draws
    // occurrence/location/sign of ONE future changepoint plus a
    // residual-pool draw (see ChangepointTrend.intervalSummary). The
    // published width = p90−p10 grows with horizon — the widening fan
    // Prophet draws — and DuckDB recomputes every draw, fit included.
    "q323_cp_intervals" -> ((s, dir) => {
      graft.operators.ChangepointTrend.intervalSummary(dailySeries(s, dir, LongType), k = 25,
        horizon = 7, nPaths = 1000)
    }),

    "q121_forecast_paths" -> ((s, dir) => {
      import graft.jobs.SegmentForecast
      import graft.operators.Stats
      implicit val obsEnc = Encoders.product[SegmentForecast.Obs]
      val obs = dailySeries(s, dir, DoubleType).select(col("segment"), col("x"), col("y"))
        .as[SegmentForecast.Obs]
      SegmentForecast.runCvPaths(obs, nPaths = 1000, horizon = 3).toDF()
        .select(col("segment"), col("h"),
          round(Stats.arrayMean(col("samples")), 6).as("mean"),
          round(Stats.arrayPercentile(col("samples"), 0.1), 6).as("p10"),
          round(Stats.arrayPercentile(col("samples"), 0.5), 6).as("p50"),
          round(Stats.arrayPercentile(col("samples"), 0.9), 6).as("p90"))
        .orderBy("segment", "h")
    })
  )

  /** q276's oracle, GENERATED so the determinant SQL shares the exact
    * cofactor-expansion association of `ChangepointTrend.det3`/`det4`
    * (first row, minors parenthesized, left-assoc alternating sum) —
    * textual identity of the arithmetic is what makes the IEEE chains
    * engine-identical. */
  private val q276Oracle: String = {
    def det3(m: Seq[Seq[String]]): String = {
      val Seq(Seq(a, b, c), Seq(d, e, f), Seq(g, h, i)) = m
      s"$a*($e*$i - $f*$h) - $b*($d*$i - $f*$g) + $c*($d*$h - $e*$g)"
    }
    def det4(m: Seq[Seq[String]]): String = {
      def minor(c0: Int): String = {
        val cols = (0 to 3).filterNot(_ == c0)
        det3((1 to 3).map(i => cols.map(j => m(i)(j))))
      }
      s"${m(0)(0)}*(${minor(0)}) - ${m(0)(1)}*(${minor(1)}) + " +
        s"${m(0)(2)}*(${minor(2)}) - ${m(0)(3)}*(${minor(3)})"
    }
    val A = Seq(
      Seq("sn", "sx", "s1", "s2"), Seq("sx", "sxx", "sx1", "sx2"),
      Seq("s1", "sx1", "s11", "s12"), Seq("s2", "sx2", "s12", "s22"))
    val r = Seq("sy", "sxy", "s1y", "s2y")
    def rep(j: Int): Seq[Seq[String]] =
      A.zipWithIndex.map { case (row, i) => row.updated(j, r(i)) }
    s"""WITH daily AS (
       |  ${dailySeriesSql("BIGINT")}),
       |obs AS (
       |  SELECT segment, x - MIN(x) OVER (PARTITION BY segment) AS x0, y,
       |    row_number() OVER (PARTITION BY segment ORDER BY x) AS rn,
       |    COUNT(*) OVER (PARTITION BY segment) AS n,
       |    MAX(x) OVER (PARTITION BY segment)
       |      - MIN(x) OVER (PARTITION BY segment) AS xmax0
       |  FROM daily),
       |cand AS (
       |  SELECT DISTINCT segment, x0 AS c FROM obs
       |  WHERE rn >= 2 AND rn <= FLOOR(n * 0.8)
       |    AND (rn - 2) % GREATEST(1, CAST(FLOOR(n / 10) AS BIGINT)) = 0),
       |pairs AS (
       |  SELECT a.segment, a.c AS c1, b.c AS c2
       |  FROM cand a JOIN cand b ON a.segment = b.segment AND a.c < b.c),
       |feat AS (
       |  SELECT o.segment, p.c1, p.c2, o.x0, o.y, o.xmax0,
       |    GREATEST(0, o.x0 - p.c1) AS h1, GREATEST(0, o.x0 - p.c2) AS h2
       |  FROM obs o JOIN pairs p ON o.segment = p.segment),
       |sums AS (
       |  SELECT segment, c1, c2,
       |    CAST(COUNT(*) AS DOUBLE) AS sn,
       |    CAST(CAST(SUM(x0) AS BIGINT) AS DOUBLE) AS sx,
       |    CAST(CAST(SUM(x0 * x0) AS BIGINT) AS DOUBLE) AS sxx,
       |    CAST(CAST(SUM(h1) AS BIGINT) AS DOUBLE) AS s1,
       |    CAST(CAST(SUM(h1 * h1) AS BIGINT) AS DOUBLE) AS s11,
       |    CAST(CAST(SUM(x0 * h1) AS BIGINT) AS DOUBLE) AS sx1,
       |    CAST(CAST(SUM(h2) AS BIGINT) AS DOUBLE) AS s2,
       |    CAST(CAST(SUM(h2 * h2) AS BIGINT) AS DOUBLE) AS s22,
       |    CAST(CAST(SUM(x0 * h2) AS BIGINT) AS DOUBLE) AS sx2,
       |    CAST(CAST(SUM(h1 * h2) AS BIGINT) AS DOUBLE) AS s12,
       |    CAST(SUM(y) AS DOUBLE) AS sy,
       |    CAST(SUM(y * CAST(x0 AS DECIMAL(18,0))) AS DOUBLE) AS sxy,
       |    CAST(SUM(y * CAST(h1 AS DECIMAL(18,0))) AS DOUBLE) AS s1y,
       |    CAST(SUM(y * CAST(h2 AS DECIMAL(18,0))) AS DOUBLE) AS s2y,
       |    CAST(SUM(y * y) AS DOUBLE) AS syy,
       |    MAX(xmax0) AS xmax0
       |  FROM feat GROUP BY 1, 2, 3),
       |solved AS (SELECT *, ${det4(A)} AS det FROM sums),
       |params AS (
       |  SELECT *,
       |    (${det4(rep(0))}) / det AS b0,
       |    (${det4(rep(1))}) / det AS b1,
       |    (${det4(rep(2))}) / det AS b2,
       |    (${det4(rep(3))}) / det AS b3
       |  FROM solved WHERE det <> 0),
       |scored AS (
       |  SELECT *, syy - (b0*sy + b1*sxy + b2*s1y + b3*s2y) AS sse
       |  FROM params),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY segment
       |    ORDER BY ROUND(sse / syy, 9), c1, c2) AS rk
       |  FROM scored)
       |SELECT segment, CAST(sn AS BIGINT) AS n_points,
       |  c1 AS cp1, c2 AS cp2,
       |  ROUND(b1, 6) AS slope1, ROUND(b1 + b2, 6) AS slope2,
       |  ROUND(b1 + b2 + b3, 6) AS slope3,
       |  ROUND(sse / syy, 6) AS rel_sse,
       |  ROUND(b0 + b1*(xmax0 + 1) + b2*GREATEST(0, (xmax0 + 1) - c1)
       |    + b3*GREATEST(0, (xmax0 + 1) - c2), 4) AS f1,
       |  ROUND(b0 + b1*(xmax0 + 2) + b2*GREATEST(0, (xmax0 + 2) - c1)
       |    + b3*GREATEST(0, (xmax0 + 2) - c2), 4) AS f2,
       |  ROUND(b0 + b1*(xmax0 + 3) + b2*GREATEST(0, (xmax0 + 3) - c1)
       |    + b3*GREATEST(0, (xmax0 + 3) - c2), 4) AS f3
       |FROM ranked WHERE rk = 1 ORDER BY segment""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q276_changepoint2" -> q276Oracle,
    // S, tie-corrected 18*Var, and the cross-multiplied verdict all in
    // exact integers
    "q317_mann_kendall" ->
      s"""WITH daily AS (
        |  ${dailySeriesSql("BIGINT")}),
        |p AS (
        |  SELECT a.segment, CAST(SUM(SIGN(b.y - a.y)) AS BIGINT) AS s
        |  FROM daily a JOIN daily b ON a.segment = b.segment AND a.x < b.x
        |  GROUP BY 1),
        |t AS (
        |  SELECT segment,
        |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum,
        |    CAST(SUM(t) AS BIGINT) AS n
        |  FROM (SELECT segment, y, COUNT(*)::BIGINT AS t
        |        FROM daily GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT p.segment, t.n, p.s,
        |  CAST(t.n * (t.n - 1) * (2 * t.n + 5) - t.tsum AS BIGINT) AS var18,
        |  CASE WHEN p.s <> 0 AND 625 * 18 * p.s * p.s >=
        |      2401 * (t.n * (t.n - 1) * (2 * t.n + 5) - t.tsum)
        |    THEN CASE WHEN p.s > 0 THEN 'increasing' ELSE 'decreasing' END
        |    ELSE 'none' END AS trend
        |FROM p JOIN t ON p.segment = t.segment ORDER BY p.segment""".stripMargin,
    // integer pair counts; tau_b's sqrt is IEEE-correctly-rounded in
    // both engines
    "q320_kendall_tau" ->
      """WITH daily AS (
        |  SELECT event_type AS segment,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS v,
        |    COUNT(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT a.segment,
        |    CAST(SIGN(b.v - a.v) AS BIGINT) AS sv,
        |    CAST(SIGN(b.c - a.c) AS BIGINT) AS sc
        |  FROM daily a JOIN daily b ON a.segment = b.segment AND a.x < b.x),
        |g AS (
        |  SELECT segment, COUNT(*)::BIGINT AS n0,
        |    CAST(SUM(CASE WHEN sv * sc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS conc,
        |    CAST(SUM(CASE WHEN sv * sc = -1 THEN 1 ELSE 0 END) AS BIGINT) AS disc,
        |    CAST(SUM(CASE WHEN sv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties_v,
        |    CAST(SUM(CASE WHEN sc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties_c
        |  FROM p GROUP BY 1)
        |SELECT segment, n0, conc, disc, ties_v, ties_c,
        |  ROUND(CAST(conc - disc AS DOUBLE)
        |    / SQRT(CAST((n0 - ties_v) * (n0 - ties_c) AS DOUBLE)), 9) AS tau_b
        |FROM g ORDER BY segment""".stripMargin,
    // same status/priority predicates over the flat table — equality
    // proves the nested stage + pushed scan dropped nothing
    "q322_nested_pushdown" ->
      """SELECT o_orderstatus AS status, COUNT(*)::BIGINT AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total
        |FROM orders
        |WHERE o_orderstatus <> 'O' AND o_orderpriority LIKE '1%'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // exact decimal error sums; MASE one double division; the verdict
    // a decimal cross-multiplication
    "q318_mase_backtest" ->
      s"""WITH daily AS (
        |  ${dailySeriesSql("BIGINT")}),
        |m AS (
        |  SELECT segment, y,
        |    row_number() OVER w AS rn,
        |    COUNT(*) OVER (PARTITION BY segment) AS n,
        |    ABS(y - LAG(y, 1) OVER w) AS d1,
        |    ABS(y - LAG(y, 7) OVER w) AS d7
        |  FROM daily WINDOW w AS (PARTITION BY segment ORDER BY x)),
        |a AS (
        |  SELECT segment, CAST(MAX(n) AS BIGINT) AS n,
        |    SUM(CASE WHEN rn > 1 AND rn <= n - 3 THEN d1 END) AS train_sum,
        |    SUM(CASE WHEN rn > n - 3 THEN d7 END) AS test_sum
        |  FROM m GROUP BY 1)
        |SELECT segment, n,
        |  ROUND(CAST(train_sum AS DOUBLE) / (n - 4), 6) AS train_mae,
        |  ROUND(CAST(test_sum AS DOUBLE) / 3.0, 6) AS test_mae,
        |  ROUND(CAST(test_sum * (n - 4) AS DOUBLE)
        |    / CAST(train_sum * 3 AS DOUBLE), 6) AS mase,
        |  test_sum * (n - 4) < train_sum * 3 AS beats_naive
        |FROM a WHERE n >= 8 AND train_sum > 0 ORDER BY segment""".stripMargin,
    // every pairwise slope, both median selections, and the forecast
    // chain replayed term-for-term
    "q315_theil_sen" ->
      s"""WITH daily AS (
        |  ${dailySeriesSql("BIGINT")}),
        |pairs AS (
        |  SELECT a.segment, a.x AS x1, b.x AS x2,
        |    CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
        |  FROM daily a JOIN daily b ON a.segment = b.segment AND a.x < b.x),
        |med AS (
        |  SELECT segment, slope, cnt AS n_pairs FROM (
        |    SELECT segment, slope, x1, x2,
        |      row_number() OVER (PARTITION BY segment ORDER BY slope, x1, x2) AS rn,
        |      COUNT(*) OVER (PARTITION BY segment) AS cnt
        |    FROM pairs)
        |  WHERE rn = (cnt + 1) // 2),
        |res AS (
        |  SELECT d.segment, m.slope, m.n_pairs,
        |    CAST(d.y AS DOUBLE) - m.slope * d.x AS resid,
        |    row_number() OVER (PARTITION BY d.segment
        |      ORDER BY CAST(d.y AS DOUBLE) - m.slope * d.x, d.x) AS rn,
        |    COUNT(*) OVER (PARTITION BY d.segment) AS n_points,
        |    MAX(d.x) OVER (PARTITION BY d.segment) AS xmax
        |  FROM daily d JOIN med m ON d.segment = m.segment)
        |SELECT segment, CAST(n_points AS BIGINT) AS n_points,
        |  CAST(n_pairs AS BIGINT) AS n_pairs,
        |  ROUND(slope, 9) AS slope, ROUND(resid, 4) AS intercept,
        |  ROUND(slope * (xmax + 1) + resid, 4) AS f1,
        |  ROUND(slope * (xmax + 2) + resid, 4) AS f2,
        |  ROUND(slope * (xmax + 3) + resid, 4) AS f3
        |FROM res WHERE rn = (n_points + 1) // 2 ORDER BY segment""".stripMargin,
    // the greedy pipeline's own generated text over the q274/q276
    // daily fixture — engine and oracle share every arithmetic chain
    "q309_changepoint_greedy" -> graft.operators.ChangepointTrend.greedySql(
      s"(${dailySeriesSql("BIGINT")}) daily", k = 10),
    // expected byte totals recomputed from the source table
    "q183_binaryfile_source" ->
      """SELECT COUNT(*)::BIGINT AS n_files,
        |  CAST(SUM(octet_length(encode(n_name))) AS BIGINT)
        |    AS total_bytes,
        |  CAST(SUM(octet_length(encode(n_name))) AS BIGINT)
        |    AS read_bytes,
        |  TRUE AS content_complete
        |FROM nation""".stripMargin,
    // the ORC round trip must preserve the parquet aggregate exactly
    "q169_orc_roundtrip" ->
      """SELECT l_returnflag, COUNT(*)::BIGINT AS n,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // zone bounds + pruning set + matched aggregate replayed exactly;
    // floor() before the cents cast (Spark truncates double->bigint,
    // DuckDB rounds — floor is identical on both)
    "q170_zonemap_skip" ->
      """WITH e AS (
        |  SELECT event_id // 500 AS zone, epoch_us(ts) AS tsm, value
        |  FROM events),
        |b AS (
        |  SELECT MIN(tsm) + 10 * CAST(86400000000 AS BIGINT) AS lo,
        |    MIN(tsm) + 13 * CAST(86400000000 AS BIGINT) AS hi
        |  FROM e),
        |z AS (
        |  SELECT zone, MIN(tsm) AS zmin, MAX(tsm) AS zmax
        |  FROM e GROUP BY 1),
        |k AS (
        |  SELECT z.zone FROM z, b WHERE z.zmax >= b.lo AND z.zmin <= b.hi),
        |m AS (
        |  SELECT e.* FROM e JOIN k USING (zone), b
        |  WHERE e.tsm >= b.lo AND e.tsm <= b.hi)
        |SELECT (SELECT COUNT(*) FROM z)::BIGINT AS n_zones,
        |  (SELECT COUNT(*) FROM k)::BIGINT AS zones_read,
        |  COUNT(*)::BIGINT AS matched_rows,
        |  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |    AS matched_cents,
        |  (SELECT COUNT(*) FROM k) < (SELECT COUNT(*) FROM z) AS pruned
        |FROM m""".stripMargin,
    "q136_table_stats" -> {
      def statRow(c: String, expr: String) =
        s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
           |  CAST(COUNT(*) - COUNT($expr) AS BIGINT) AS n_null,
           |  COUNT(DISTINCT $expr) AS n_distinct,
           |  CAST(MIN($expr) AS VARCHAR) AS min_s,
           |  CAST(MAX($expr) AS VARCHAR) AS max_s
           |FROM orders""".stripMargin
      Seq(
        statRow("o_orderkey", "o_orderkey"),
        statRow("o_custkey", "o_custkey"),
        statRow("o_orderstatus", "o_orderstatus"),
        statRow("o_price", "CAST(o_totalprice AS DECIMAL(18,2))"),
        statRow("o_day", "CAST(o_orderdate AS DATE)"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    },
    // contract booleans; exact row count recomputed
    "q165_compaction" ->
      """SELECT COUNT(*)::BIGINT AS n_rows, TRUE AS fragmented_ok,
        |  TRUE AS reduced, TRUE AS small
        |FROM orders""".stripMargin,
    "q157_bloom_prune" ->
      """WITH mem AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT'),
        |probe AS (SELECT DISTINCT c_custkey AS o_custkey FROM customer),
        |pos AS (
        |  SELECT DISTINCT CAST(('0x' || substr(md5(
        |      CAST(o_custkey AS VARCHAR) || '#' || j), 1, 8)) AS BIGINT)
        |    % 4096 AS pos
        |  FROM mem CROSS JOIN generate_series(0, 3) g(j)),
        |pp AS (
        |  SELECT o_custkey, CAST(('0x' || substr(md5(
        |      CAST(o_custkey AS VARCHAR) || '#' || j), 1, 8)) AS BIGINT)
        |    % 4096 AS pos
        |  FROM probe CROSS JOIN generate_series(0, 3) g(j)),
        |cand AS (
        |  SELECT o_custkey FROM (
        |    SELECT p.o_custkey,
        |      MIN(CASE WHEN s.pos IS NOT NULL THEN 1 ELSE 0 END) AS ok
        |    FROM pp p LEFT JOIN pos s USING (pos) GROUP BY 1)
        |  WHERE ok = 1)
        |SELECT
        |  (SELECT COUNT(*) FROM probe)::BIGINT AS n_probed,
        |  (SELECT COUNT(*) FROM cand)::BIGINT AS n_candidates,
        |  (SELECT COUNT(*) FROM mem)::BIGINT AS n_true,
        |  ((SELECT COUNT(*) FROM cand) -
        |    (SELECT COUNT(*) FROM mem))::BIGINT AS n_false_pos,
        |  CAST((SELECT COUNT(*) FROM cand) -
        |      (SELECT COUNT(*) FROM mem) AS DOUBLE) /
        |    ((SELECT COUNT(*) FROM probe) -
        |      (SELECT COUNT(*) FROM mem)) AS fp_rate""".stripMargin,

    // Full replay — binning, cumulative rank lookup, integer ceil-div
    // targets, and the bound booleans are all deterministic shared-IEEE
    // arithmetic, so unlike q133 no TRUE-gate is needed.
    "q146_quantile_rollup" ->
      """WITH b AS (
        |  SELECT event_type, CAST(floor(value / 0.5) AS INT) AS bin,
        |    COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    COUNT(DISTINCT CAST(ts AS DATE)) AS n_days
        |  FROM events GROUP BY 1),
        |cum AS (
        |  SELECT event_type, bin, SUM(c) OVER (PARTITION BY event_type
        |    ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS cm
        |  FROM b),
        |est AS (
        |  SELECT c.event_type,
        |    MIN(CASE WHEN c.cm >= (1 * t.n_rows + 1) // 2 THEN c.bin END)
        |      * 0.5 AS est_p50,
        |    MIN(CASE WHEN c.cm >= (9 * t.n_rows + 9) // 10 THEN c.bin END)
        |      * 0.5 AS est_p90,
        |    MIN(CASE WHEN c.cm >= (99 * t.n_rows + 99) // 100 THEN c.bin END)
        |      * 0.5 AS est_p99
        |  FROM cum c JOIN tot t USING (event_type) GROUP BY 1),
        |r AS (
        |  SELECT event_type, value, row_number() OVER (
        |    PARTITION BY event_type ORDER BY value) AS rn
        |  FROM events),
        |x AS (
        |  SELECT r.event_type,
        |    MIN(CASE WHEN rn = (1 * n_rows + 1) // 2 THEN value END)
        |      AS exact_p50,
        |    MIN(CASE WHEN rn = (9 * n_rows + 9) // 10 THEN value END)
        |      AS exact_p90,
        |    MIN(CASE WHEN rn = (99 * n_rows + 99) // 100 THEN value END)
        |      AS exact_p99
        |  FROM r JOIN tot USING (event_type) GROUP BY 1)
        |SELECT t.event_type, t.n_rows, t.n_days,
        |  est_p50, est_p90, est_p99, exact_p50, exact_p90, exact_p99,
        |  exact_p50 >= est_p50 AND exact_p50 < est_p50 + 0.5 AS ok_p50,
        |  exact_p90 >= est_p90 AND exact_p90 < est_p90 + 0.5 AS ok_p90,
        |  exact_p99 >= est_p99 AND exact_p99 < est_p99 + 0.5 AS ok_p99
        |FROM tot t JOIN est ON t.event_type = est.event_type
        |JOIN x ON t.event_type = x.event_type
        |ORDER BY t.event_type""".stripMargin,

    // exact columns recomputed independently; the estimate assertion is
    // the boolean (q106 pattern) — a sketch regression turns it false
    "q133_sketch_rollup" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    COUNT(DISTINCT user_id) AS du
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, COUNT(*) AS n_days,
        |    CAST(SUM(du) AS BIGINT) AS sum_daily_users
        |  FROM d GROUP BY 1),
        |x AS (
        |  SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
        |  FROM events GROUP BY 1)
        |SELECT r.event_type, n_days, sum_daily_users, exact_users,
        |  TRUE AS est_within_bound
        |FROM r JOIN x ON r.event_type = x.event_type
        |ORDER BY r.event_type""".stripMargin,
    // The exact columns are recomputed; the bound booleans are the
    // assertion — DuckDB emits TRUE, so a sketch regression on the
    // Spark side (boolean false) is a hash mismatch.
    "q106_approx_variants" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  COUNT(DISTINCT o_custkey) AS exact_cust,
        |  TRUE AS cust_within_bound, TRUE AS p50_within_band
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q96_csv_roundtrip" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q97_tsv_gz" ->
      "SELECT CAST(n_nationkey AS BIGINT) AS key, n_name AS name FROM nation ORDER BY key",
    // the fixture is constructed, so the expected diff is literal
    "q239_schema_contract" ->
      """SELECT * FROM (VALUES
        |  ('k', 'bigint', 'bigint', 'kept'),
        |  ('legacy', 'string', CAST(NULL AS VARCHAR), 'removed'),
        |  ('price', 'decimal(18,2)', 'decimal(18,2)', 'kept'),
        |  ('status', CAST(NULL AS VARCHAR), 'string', 'added'))
        |  AS t("column", gen1_type, gen2_type, change)
        |ORDER BY "column"""".stripMargin,
    // the round trip is the identity on (prio, n, total); size columns
    // recomputed directly
    "q212_dictionary_normalize" ->
      """SELECT o_orderpriority AS prio, COUNT(*)::BIGINT AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(SUM(length(o_orderpriority)) AS BIGINT) AS string_bytes,
        |  CAST(COUNT(*) * 8 AS BIGINT) AS id_bytes,
        |  COUNT(*) * 8 < SUM(length(o_orderpriority)) AS dict_wins
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // constructed feed: 25 valid nations + 1 wrong-type row (kept,
    // null key) + 2 unparseable lines (quarantined)
    "q211_corrupt_records" ->
      """WITH v AS (
        |  SELECT FALSE AS quarantined, CAST(n_nationkey AS BIGINT) AS kk
        |  FROM nation
        |  UNION ALL SELECT FALSE, NULL
        |  UNION ALL SELECT TRUE, NULL
        |  UNION ALL SELECT TRUE, NULL)
        |SELECT quarantined, COUNT(*)::BIGINT AS n_rows,
        |  CAST(SUM(kk) AS BIGINT) AS sum_key,
        |  CAST(COUNT(*) FILTER (WHERE kk IS NULL AND NOT quarantined)
        |    AS BIGINT) AS n_null_key
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    // the merged read's union semantics: gen1 rows carry NULL status
    "q203_schema_evolution" ->
      """WITH u AS (
        |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |    CAST(NULL AS VARCHAR) AS status
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)), o_orderstatus
        |  FROM orders WHERE o_orderkey % 2 <> 0)
        |SELECT status, COUNT(*)::BIGINT AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total_price,
        |  CAST(SUM(k) AS BIGINT) AS sum_key
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    "q275_variant_ingest" ->
      """SELECT n_regionkey, COUNT(*)::BIGINT AS n_nations,
        |  MIN(n_name) AS first_name,
        |  CAST(MAX(n_nationkey) AS BIGINT) AS max_key
        |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin,
    "q98_json_rows" ->
      """SELECT * FROM (
        |  SELECT n_nationkey, n_name FROM nation
        |  UNION ALL SELECT * FROM (VALUES (100, 'ATLANTIS'), (101, 'ELDORADO')))
        |ORDER BY n_nationkey""".stripMargin,
    "q99_temp_table" ->
      "SELECT COUNT(*) AS n_regions FROM region",
    "q100_catalog_probe" ->
      "SELECT CAST(202409 AS BIGINT) AS yyyymm",
    "q101_array_literal_join" ->
      """SELECT w.r_name, r.r_regionkey
        |FROM (VALUES ('REGION_0'), ('REGION_2'), ('NOWHERE')) w(r_name)
        |LEFT JOIN region r ON r.r_name = w.r_name
        |ORDER BY w.r_name""".stripMargin,
    "q102_pivot_first" ->
      """SELECT CAST(ts AS DATE) AS day,
        |  CAST(count_if(event_type = 'click') AS DOUBLE) AS click,
        |  CAST(count_if(event_type = 'purchase') AS DOUBLE) AS purchase
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    "q103_dedup_min_join_back" ->
      """SELECT user_id AS uid, MIN(event_id) AS first_event_id
        |FROM events e
        |JOIN (SELECT user_id AS u2, MIN(ts) AS first_ts FROM events GROUP BY 1) f
        |  ON e.user_id = f.u2 AND e.ts = f.first_ts
        |GROUP BY user_id ORDER BY uid""".stripMargin,
    "q104_segment_models" ->
      """WITH sums AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(hour(ts) AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(hour(ts) AS DECIMAL(18,2)) * CAST(hour(ts) AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(hour(ts) AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        |  FROM events GROUP BY event_type),
        |fit AS (
        |  SELECT event_type, n,
        |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope, sx, sy
        |  FROM sums)
        |SELECT event_type, n,
        |  ROUND(slope, 8) AS slope,
        |  ROUND((sy - slope * sx) / n, 8) AS intercept
        |FROM fit ORDER BY event_type""".stripMargin,
    // Full grid-search + rolling-origin CV pipeline recomputed in SQL:
    // decimal-exact fit sums, per-row double predictions (2-term sums are
    // IEEE-commutative), explicit ((b1+b2)+b3)/3 to match the engine's
    // left-to-right fold, |bias| argmin with grid-order tiebreak.
    // same daily series; exact BIGINT x-moments + DECIMAL y-moments →
    // one DOUBLE cast; Cramer cofactor expansion written in the same
    // a*(e*i - f*h) - b*(d*i - f*g) + c*(d*h - e*g) order as the
    // engine's det3, so every fitted slope/SSE is the same IEEE chain
    // the q274 fit replayed UNROUNDED, then every md5 draw recomputed:
    // residual index, changepoint occurrence/location/sign per path —
    // same IEEE chains, same sorted-list reductions as q121
    "q323_cp_intervals" ->
      s"""WITH daily AS (
        |  ${dailySeriesSql("BIGINT")}),
        |obs AS (
        |  SELECT segment, x - MIN(x) OVER (PARTITION BY segment) AS x0, y,
        |    row_number() OVER (PARTITION BY segment ORDER BY x) AS rn,
        |    COUNT(*) OVER (PARTITION BY segment) AS n,
        |    MAX(x) OVER (PARTITION BY segment)
        |      - MIN(x) OVER (PARTITION BY segment) AS xmax0
        |  FROM daily),
        |cands AS (
        |  SELECT DISTINCT segment, x0 AS c FROM obs
        |  WHERE rn >= 2 AND rn <= FLOOR(n * 0.8)
        |    AND (rn - 2) % GREATEST(1, CAST(FLOOR(n / 25) AS BIGINT)) = 0),
        |feat AS (
        |  SELECT o.segment, c.c, o.x0, o.y, o.xmax0,
        |    GREATEST(0, o.x0 - c.c) AS h
        |  FROM obs o JOIN cands c ON o.segment = c.segment),
        |sums AS (
        |  SELECT segment, c,
        |    CAST(COUNT(*) AS DOUBLE) AS sn,
        |    CAST(CAST(SUM(x0) AS BIGINT) AS DOUBLE) AS sx,
        |    CAST(CAST(SUM(x0 * x0) AS BIGINT) AS DOUBLE) AS sxx,
        |    CAST(CAST(SUM(h) AS BIGINT) AS DOUBLE) AS sh,
        |    CAST(CAST(SUM(h * h) AS BIGINT) AS DOUBLE) AS shh,
        |    CAST(CAST(SUM(x0 * h) AS BIGINT) AS DOUBLE) AS sxh,
        |    CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x0 AS DECIMAL(18,0)) * y) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(h AS DECIMAL(18,0)) * y) AS DOUBLE) AS shy,
        |    CAST(SUM(y * y) AS DOUBLE) AS syy,
        |    MAX(xmax0) AS xmax0
        |  FROM feat GROUP BY 1, 2),
        |solved AS (
        |  SELECT *,
        |    sn*(sxx*shh - sxh*sxh) - sx*(sx*shh - sxh*sh) + sh*(sx*sxh - sxx*sh)
        |      AS det
        |  FROM sums),
        |params AS (
        |  SELECT *,
        |    (sy*(sxx*shh - sxh*sxh) - sx*(sxy*shh - sxh*shy) + sh*(sxy*sxh - sxx*shy)) / det AS b0,
        |    (sn*(sxy*shh - sxh*shy) - sy*(sx*shh - sxh*sh) + sh*(sx*shy - sxy*sh)) / det AS b1,
        |    (sn*(sxx*shy - sxy*sxh) - sx*(sx*shy - sxy*sh) + sy*(sx*sxh - sxx*sh)) / det AS b2
        |  FROM solved WHERE det <> 0),
        |scored AS (
        |  SELECT *, syy - (b0*sy + b1*sxy + b2*shy) AS sse FROM params),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY segment
        |    ORDER BY ROUND(sse / syy, 9), c) AS rk
        |  FROM scored),
        |win AS (
        |  SELECT segment, sn, c, b0, b1, b2, xmax0 FROM ranked WHERE rk = 1),
        |resid AS (
        |  SELECT o.segment, o.rn,
        |    CAST(o.y AS DOUBLE)
        |      - (w.b0 + w.b1*o.x0 + w.b2*GREATEST(0, o.x0 - w.c)) AS rr
        |  FROM obs o JOIN win w ON w.segment = o.segment),
        |hs AS (SELECT unnest(generate_series(1, 7)) AS h),
        |ii AS (SELECT unnest(generate_series(0, 999)) AS i),
        |draws AS (
        |  SELECT w.segment, hs.h, ii.i, w.b0, w.b1, w.b2, w.c, w.xmax0,
        |    CAST(('0x' || substr(md5(w.segment || '|' ||
        |      CAST(ii.i AS VARCHAR) || '|' || CAST(hs.h AS VARCHAR)), 1, 15))
        |      AS BIGINT) % CAST(w.sn AS BIGINT) AS ridx,
        |    CAST(('0x' || substr(md5(w.segment || '|' ||
        |      CAST(ii.i AS VARCHAR) || '|cp'), 1, 15)) AS BIGINT) % 2 = 0 AS occ,
        |    CAST(('0x' || substr(md5(w.segment || '|' ||
        |      CAST(ii.i AS VARCHAR) || '|g'), 1, 15)) AS BIGINT) % 3 + 1 AS g,
        |    CAST(CAST(('0x' || substr(md5(w.segment || '|' ||
        |      CAST(ii.i AS VARCHAR) || '|s'), 1, 15)) AS BIGINT) % 2 * 2 - 1
        |      AS DOUBLE) AS sgn
        |  FROM win w CROSS JOIN hs CROSS JOIN ii),
        |paths AS (
        |  SELECT d.segment, d.h, d.i,
        |    d.b0 + d.b1*(d.xmax0 + d.h)
        |      + d.b2*GREATEST(0, d.xmax0 + d.h - d.c)
        |      + (CASE WHEN d.occ THEN d.sgn * ABS(d.b2)
        |          * CAST(GREATEST(0, d.h - d.g + 1) AS DOUBLE)
        |          ELSE 0.0 END)
        |      + r.rr AS v
        |  FROM draws d
        |  JOIN resid r ON r.segment = d.segment AND r.rn = d.ridx + 1),
        |agg AS (
        |  SELECT segment, h, list_sort(list(v)) AS vs, COUNT(*) AS n
        |  FROM paths GROUP BY 1, 2),
        |iq AS (SELECT segment, h, vs, n,
        |  CAST(0.1 AS DOUBLE) * (n - 1) AS i10,
        |  CAST(0.5 AS DOUBLE) * (n - 1) AS i50,
        |  CAST(0.9 AS DOUBLE) * (n - 1) AS i90 FROM agg),
        |pct AS (SELECT segment, h, vs, n, i10, i50, i90,
        |  vs[CAST(FLOOR(i10) AS INTEGER) + 1] + (vs[CAST(CEIL(i10) AS INTEGER) + 1] - vs[CAST(FLOOR(i10) AS INTEGER) + 1]) * (i10 - FLOOR(i10)) AS v10,
        |  vs[CAST(FLOOR(i50) AS INTEGER) + 1] + (vs[CAST(CEIL(i50) AS INTEGER) + 1] - vs[CAST(FLOOR(i50) AS INTEGER) + 1]) * (i50 - FLOOR(i50)) AS v50,
        |  vs[CAST(FLOOR(i90) AS INTEGER) + 1] + (vs[CAST(CEIL(i90) AS INTEGER) + 1] - vs[CAST(FLOOR(i90) AS INTEGER) + 1]) * (i90 - FLOOR(i90)) AS v90
        |  FROM iq)
        |SELECT segment, CAST(h AS INTEGER) AS h,
        |  ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vs), (a, x) -> a + x) / n, 6) AS mean,
        |  ROUND(v10, 6) AS p10, ROUND(v50, 6) AS p50, ROUND(v90, 6) AS p90,
        |  ROUND(v90 - v10, 6) AS width
        |FROM pct ORDER BY segment, h""".stripMargin,
    "q274_changepoint_trend" ->
      s"""WITH daily AS (
        |  ${dailySeriesSql("BIGINT")}),
        |obs AS (
        |  SELECT segment, x - MIN(x) OVER (PARTITION BY segment) AS x0, y,
        |    row_number() OVER (PARTITION BY segment ORDER BY x) AS rn,
        |    COUNT(*) OVER (PARTITION BY segment) AS n,
        |    MAX(x) OVER (PARTITION BY segment)
        |      - MIN(x) OVER (PARTITION BY segment) AS xmax0
        |  FROM daily),
        |cands AS (
        |  SELECT DISTINCT segment, x0 AS c FROM obs
        |  WHERE rn >= 2 AND rn <= FLOOR(n * 0.8)
        |    AND (rn - 2) % GREATEST(1, CAST(FLOOR(n / 25) AS BIGINT)) = 0),
        |feat AS (
        |  SELECT o.segment, c.c, o.x0, o.y, o.xmax0,
        |    GREATEST(0, o.x0 - c.c) AS h
        |  FROM obs o JOIN cands c ON o.segment = c.segment),
        |sums AS (
        |  SELECT segment, c,
        |    CAST(COUNT(*) AS DOUBLE) AS sn,
        |    CAST(CAST(SUM(x0) AS BIGINT) AS DOUBLE) AS sx,
        |    CAST(CAST(SUM(x0 * x0) AS BIGINT) AS DOUBLE) AS sxx,
        |    CAST(CAST(SUM(h) AS BIGINT) AS DOUBLE) AS sh,
        |    CAST(CAST(SUM(h * h) AS BIGINT) AS DOUBLE) AS shh,
        |    CAST(CAST(SUM(x0 * h) AS BIGINT) AS DOUBLE) AS sxh,
        |    CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x0 AS DECIMAL(18,0)) * y) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(h AS DECIMAL(18,0)) * y) AS DOUBLE) AS shy,
        |    CAST(SUM(y * y) AS DOUBLE) AS syy,
        |    MAX(xmax0) AS xmax0
        |  FROM feat GROUP BY 1, 2),
        |solved AS (
        |  SELECT *,
        |    sn*(sxx*shh - sxh*sxh) - sx*(sx*shh - sxh*sh) + sh*(sx*sxh - sxx*sh)
        |      AS det
        |  FROM sums),
        |params AS (
        |  SELECT *,
        |    (sy*(sxx*shh - sxh*sxh) - sx*(sxy*shh - sxh*shy) + sh*(sxy*sxh - sxx*shy)) / det AS b0,
        |    (sn*(sxy*shh - sxh*shy) - sy*(sx*shh - sxh*sh) + sh*(sx*shy - sxy*sh)) / det AS b1,
        |    (sn*(sxx*shy - sxy*sxh) - sx*(sx*shy - sxy*sh) + sy*(sx*sxh - sxx*sh)) / det AS b2
        |  FROM solved WHERE det <> 0),
        |scored AS (
        |  SELECT *, syy - (b0*sy + b1*sxy + b2*shy) AS sse FROM params),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY segment
        |    ORDER BY ROUND(sse / syy, 9), c) AS rk
        |  FROM scored)
        |SELECT segment, CAST(sn AS BIGINT) AS n_points, c AS changepoint,
        |  ROUND(b1, 6) AS slope_pre, ROUND(b1 + b2, 6) AS slope_post,
        |  ROUND(sse / syy, 6) AS rel_sse,
        |  ROUND(b0 + b1*(xmax0 + 1) + b2*GREATEST(0, (xmax0 + 1) - c), 4) AS f1,
        |  ROUND(b0 + b1*(xmax0 + 2) + b2*GREATEST(0, (xmax0 + 2) - c), 4) AS f2,
        |  ROUND(b0 + b1*(xmax0 + 3) + b2*GREATEST(0, (xmax0 + 3) - c), 4) AS f3
        |FROM ranked WHERE rk = 1 ORDER BY segment""".stripMargin,
    "q110_forecast_cv" ->
      s"""WITH daily AS (
        |  ${dailySeriesSql("DOUBLE")}),
        |obs AS (
        |  SELECT segment, x, y,
        |    row_number() OVER (PARTITION BY segment ORDER BY x) AS rn,
        |    COUNT(*) OVER (PARTITION BY segment) AS n
        |  FROM daily),
        |cuts AS (
        |  SELECT DISTINCT segment, n - 2 - 2 * m.m AS j
        |  FROM obs CROSS JOIN (VALUES (0), (1), (2)) m(m)
        |  WHERE n - 2 - 2 * m.m >= 6),
        |specs AS (SELECT * FROM (VALUES ('mean', 0, 0), ('mean', 8, 1),
        |  ('linear', 0, 2), ('linear', 8, 3)) s(kind, w, ord)),
        |train AS (
        |  SELECT o.segment, c.j, s.kind, s.w, s.ord, o.x, o.y
        |  FROM obs o
        |  JOIN cuts c ON o.segment = c.segment AND o.rn <= c.j
        |  CROSS JOIN specs s
        |  WHERE s.w = 0 OR o.rn > c.j - s.w),
        |fits AS (
        |  SELECT segment, j, kind, w, ord,
        |    CAST(COUNT(*) AS DOUBLE) AS fn,
        |    CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(x AS DECIMAL(18,2)) * y) AS DOUBLE) AS sxy
        |  FROM train GROUP BY 1, 2, 3, 4, 5),
        |params AS (
        |  SELECT segment, j, kind, w, ord,
        |    CASE WHEN kind = 'linear'
        |      THEN (fn * sxy - sx * sy) / (fn * sxx - sx * sx) ELSE 0 END AS slope,
        |    CASE WHEN kind = 'linear'
        |      THEN (sy - ((fn * sxy - sx * sy) / (fn * sxx - sx * sx)) * sx) / fn
        |      ELSE sy / fn END AS intercept
        |  FROM fits),
        |preds AS (
        |  SELECT p.segment, p.j, p.kind, p.w, p.ord,
        |    SUM(p.intercept + p.slope * o.x) AS yhat,
        |    SUM(CAST(o.y AS DOUBLE)) AS yy
        |  FROM params p
        |  JOIN obs o ON o.segment = p.segment AND o.rn > p.j AND o.rn <= p.j + 2
        |  GROUP BY 1, 2, 3, 4, 5),
        |biases AS (
        |  SELECT segment, kind, w, ord, yhat / yy - 1 AS b,
        |    row_number() OVER (PARTITION BY segment, ord ORDER BY j) AS bi
        |  FROM preds),
        |metrics AS (
        |  SELECT segment, kind, w, ord,
        |    ((MAX(CASE WHEN bi = 1 THEN b END) + MAX(CASE WHEN bi = 2 THEN b END))
        |      + MAX(CASE WHEN bi = 3 THEN b END)) / 3 AS bias
        |  FROM biases GROUP BY 1, 2, 3, 4),
        |best AS (
        |  SELECT segment, kind, w, ord, bias,
        |    row_number() OVER (PARTITION BY segment ORDER BY ABS(bias), ord) AS r
        |  FROM metrics),
        |fullfit AS (
        |  SELECT o.segment, b.kind, b.w, b.bias,
        |    CAST(COUNT(*) AS DOUBLE) AS fn,
        |    CAST(SUM(CAST(o.x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(o.y) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(o.x AS DECIMAL(18,2)) * CAST(o.x AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(o.x AS DECIMAL(18,2)) * o.y) AS DOUBLE) AS sxy,
        |    MAX(o.x) AS xmax
        |  FROM obs o
        |  JOIN best b ON b.segment = o.segment AND b.r = 1
        |  WHERE b.w = 0 OR o.rn > o.n - b.w
        |  GROUP BY 1, 2, 3, 4),
        |fullparams AS (
        |  SELECT segment, kind, w, bias, xmax,
        |    CASE WHEN kind = 'linear'
        |      THEN (fn * sxy - sx * sy) / (fn * sxx - sx * sx) ELSE 0 END AS slope,
        |    CASE WHEN kind = 'linear'
        |      THEN (sy - ((fn * sxy - sx * sy) / (fn * sxx - sx * sx)) * sx) / fn
        |      ELSE sy / fn END AS intercept
        |  FROM fullfit)
        |SELECT segment, kind, w AS "window", ROUND(bias, 8) AS cv_bias,
        |  ROUND(intercept + slope * (xmax + 1), 6) AS f1,
        |  ROUND(intercept + slope * (xmax + 2), 6) AS f2,
        |  ROUND(intercept + slope * (xmax + 3), 6) AS f3
        |FROM fullparams ORDER BY segment""".stripMargin,
    // q110's pipeline widened to the Prophet-shaped grid: 'sat' fits OLS
    // on the integer link z = 1e6*y_cents // (cap_cents - y_cents) with
    // cap_cents = 2*max(y_cents)+100 over the fit set (pure BIGINT floor
    // division on non-negative operands == the engine's trunc division);
    // 'seasonal' adds per-dow mean-residual offsets from decimal-exact
    // class sums. Every double expression mirrors the engine's op order.
    "q114_forecast_grid2" ->
      s"""WITH daily AS (
        |  ${dailySeriesSql("DOUBLE")}),
        |obs AS (
        |  SELECT segment, x, y,
        |    row_number() OVER (PARTITION BY segment ORDER BY x) AS rn,
        |    COUNT(*) OVER (PARTITION BY segment) AS n
        |  FROM daily),
        |cuts AS (
        |  SELECT DISTINCT segment, n - 2 - 2 * m.m AS j
        |  FROM obs CROSS JOIN (VALUES (0), (1), (2)) m(m)
        |  WHERE n - 2 - 2 * m.m >= 6),
        |specs AS (SELECT * FROM (VALUES ('mean', 0), ('linear', 1),
        |  ('sat', 2), ('seasonal', 3)) s(kind, ord)),
        |train AS (
        |  SELECT o.segment, c.j, s.kind, s.ord, o.x, o.y
        |  FROM obs o
        |  JOIN cuts c ON o.segment = c.segment AND o.rn <= c.j
        |  CROSS JOIN specs s),
        |fits AS (
        |  SELECT segment, j, kind, ord,
        |    CAST(COUNT(*) AS DOUBLE) AS fn,
        |    CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(x AS DECIMAL(18,2)) * y) AS DOUBLE) AS sxy,
        |    2 * MAX(GREATEST(CAST(y * 100 AS BIGINT), 0)) + 100 AS cap_cents
        |  FROM train GROUP BY 1, 2, 3, 4),
        |zfits AS (
        |  SELECT t.segment, t.j, t.ord,
        |    CAST(COUNT(*) AS DOUBLE) AS zn,
        |    CAST(SUM(CAST(t.x AS DECIMAL(18,2))) AS DOUBLE) AS zsx,
        |    CAST(SUM((GREATEST(CAST(t.y * 100 AS BIGINT), 0) * 1000000)
        |      // (f.cap_cents - GREATEST(CAST(t.y * 100 AS BIGINT), 0))) AS DOUBLE) AS sz,
        |    CAST(SUM(CAST(t.x AS DECIMAL(18,2)) * CAST(t.x AS DECIMAL(18,2))) AS DOUBLE) AS zsxx,
        |    CAST(SUM(CAST(t.x AS DECIMAL(18,2)) *
        |      ((GREATEST(CAST(t.y * 100 AS BIGINT), 0) * 1000000)
        |       // (f.cap_cents - GREATEST(CAST(t.y * 100 AS BIGINT), 0)))) AS DOUBLE) AS sxz
        |  FROM train t
        |  JOIN fits f ON f.segment = t.segment AND f.j = t.j AND f.ord = t.ord
        |  WHERE t.kind = 'sat' GROUP BY 1, 2, 3),
        |dowfits AS (
        |  SELECT segment, j, ord, CAST(x AS BIGINT) % 7 AS dow,
        |    CAST(COUNT(*) AS DOUBLE) AS nc,
        |    CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sxc,
        |    CAST(SUM(y) AS DOUBLE) AS syc
        |  FROM train WHERE kind = 'seasonal' GROUP BY 1, 2, 3, 4),
        |params AS (
        |  SELECT f.segment, f.j, f.kind, f.ord, f.cap_cents,
        |    CASE
        |      WHEN f.kind IN ('linear', 'seasonal')
        |        THEN (f.fn * f.sxy - f.sx * f.sy) / (f.fn * f.sxx - f.sx * f.sx)
        |      WHEN f.kind = 'sat'
        |        THEN (z.zn * z.sxz - z.zsx * z.sz) / (z.zn * z.zsxx - z.zsx * z.zsx)
        |      ELSE 0 END AS slope,
        |    CASE
        |      WHEN f.kind IN ('linear', 'seasonal')
        |        THEN (f.sy - ((f.fn * f.sxy - f.sx * f.sy) / (f.fn * f.sxx - f.sx * f.sx)) * f.sx) / f.fn
        |      WHEN f.kind = 'sat'
        |        THEN (z.sz - ((z.zn * z.sxz - z.zsx * z.sz) / (z.zn * z.zsxx - z.zsx * z.zsx)) * z.zsx) / z.zn
        |      ELSE f.sy / f.fn END AS intercept
        |  FROM fits f
        |  LEFT JOIN zfits z ON z.segment = f.segment AND z.j = f.j AND z.ord = f.ord),
        |offsets AS (
        |  SELECT d.segment, d.j, d.ord, d.dow,
        |    (d.syc - (d.nc * p.intercept + p.slope * d.sxc)) / d.nc AS s
        |  FROM dowfits d
        |  JOIN params p ON p.segment = d.segment AND p.j = d.j AND p.ord = d.ord),
        |preds AS (
        |  SELECT p.segment, p.j, p.kind, p.ord,
        |    SUM(CASE p.kind
        |      WHEN 'sat' THEN (p.cap_cents / 100.0) * (p.intercept + p.slope * o.x)
        |        / (1000000.0 + (p.intercept + p.slope * o.x))
        |      WHEN 'seasonal' THEN (p.intercept + p.slope * o.x) + COALESCE(ofs.s, 0)
        |      ELSE p.intercept + p.slope * o.x END) AS yhat,
        |    SUM(CAST(o.y AS DOUBLE)) AS yy
        |  FROM params p
        |  JOIN obs o ON o.segment = p.segment AND o.rn > p.j AND o.rn <= p.j + 2
        |  LEFT JOIN offsets ofs ON ofs.segment = p.segment AND ofs.j = p.j
        |    AND ofs.ord = p.ord AND ofs.dow = CAST(o.x AS BIGINT) % 7
        |  GROUP BY 1, 2, 3, 4),
        |biases AS (
        |  SELECT segment, kind, ord, yhat / yy - 1 AS b,
        |    row_number() OVER (PARTITION BY segment, ord ORDER BY j) AS bi
        |  FROM preds),
        |metrics AS (
        |  SELECT segment, kind, ord,
        |    ((MAX(CASE WHEN bi = 1 THEN b END) + MAX(CASE WHEN bi = 2 THEN b END))
        |      + MAX(CASE WHEN bi = 3 THEN b END)) / 3 AS bias
        |  FROM biases GROUP BY 1, 2, 3),
        |best AS (
        |  SELECT segment, kind, ord, bias,
        |    row_number() OVER (PARTITION BY segment ORDER BY ABS(bias), ord) AS r
        |  FROM metrics),
        |fullfit AS (
        |  SELECT o.segment, b.kind, b.bias,
        |    CAST(COUNT(*) AS DOUBLE) AS fn,
        |    CAST(SUM(CAST(o.x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(o.y) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(o.x AS DECIMAL(18,2)) * CAST(o.x AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(o.x AS DECIMAL(18,2)) * o.y) AS DOUBLE) AS sxy,
        |    2 * MAX(GREATEST(CAST(o.y * 100 AS BIGINT), 0)) + 100 AS cap_cents,
        |    MAX(o.x) AS xmax
        |  FROM obs o JOIN best b ON b.segment = o.segment AND b.r = 1
        |  GROUP BY 1, 2, 3),
        |zfull AS (
        |  SELECT o.segment,
        |    CAST(COUNT(*) AS DOUBLE) AS zn,
        |    CAST(SUM(CAST(o.x AS DECIMAL(18,2))) AS DOUBLE) AS zsx,
        |    CAST(SUM((GREATEST(CAST(o.y * 100 AS BIGINT), 0) * 1000000)
        |      // (f.cap_cents - GREATEST(CAST(o.y * 100 AS BIGINT), 0))) AS DOUBLE) AS sz,
        |    CAST(SUM(CAST(o.x AS DECIMAL(18,2)) * CAST(o.x AS DECIMAL(18,2))) AS DOUBLE) AS zsxx,
        |    CAST(SUM(CAST(o.x AS DECIMAL(18,2)) *
        |      ((GREATEST(CAST(o.y * 100 AS BIGINT), 0) * 1000000)
        |       // (f.cap_cents - GREATEST(CAST(o.y * 100 AS BIGINT), 0)))) AS DOUBLE) AS sxz
        |  FROM obs o JOIN fullfit f ON f.segment = o.segment
        |  WHERE f.kind = 'sat' GROUP BY 1),
        |dowfull AS (
        |  SELECT o.segment, CAST(o.x AS BIGINT) % 7 AS dow,
        |    CAST(COUNT(*) AS DOUBLE) AS nc,
        |    CAST(SUM(CAST(o.x AS DECIMAL(18,2))) AS DOUBLE) AS sxc,
        |    CAST(SUM(o.y) AS DOUBLE) AS syc
        |  FROM obs o JOIN fullfit f ON f.segment = o.segment
        |  WHERE f.kind = 'seasonal' GROUP BY 1, 2),
        |fullparams AS (
        |  SELECT f.segment, f.kind, f.bias, f.cap_cents, f.xmax,
        |    CASE
        |      WHEN f.kind IN ('linear', 'seasonal')
        |        THEN (f.fn * f.sxy - f.sx * f.sy) / (f.fn * f.sxx - f.sx * f.sx)
        |      WHEN f.kind = 'sat'
        |        THEN (z.zn * z.sxz - z.zsx * z.sz) / (z.zn * z.zsxx - z.zsx * z.zsx)
        |      ELSE 0 END AS slope,
        |    CASE
        |      WHEN f.kind IN ('linear', 'seasonal')
        |        THEN (f.sy - ((f.fn * f.sxy - f.sx * f.sy) / (f.fn * f.sxx - f.sx * f.sx)) * f.sx) / f.fn
        |      WHEN f.kind = 'sat'
        |        THEN (z.sz - ((z.zn * z.sxz - z.zsx * z.sz) / (z.zn * z.zsxx - z.zsx * z.zsx)) * z.zsx) / z.zn
        |      ELSE f.sy / f.fn END AS intercept
        |  FROM fullfit f LEFT JOIN zfull z ON z.segment = f.segment),
        |offpivot AS (
        |  SELECT d.segment,
        |    MAX(CASE WHEN d.dow = 0 THEN (d.syc - (d.nc * p.intercept + p.slope * d.sxc)) / d.nc END) AS s0,
        |    MAX(CASE WHEN d.dow = 1 THEN (d.syc - (d.nc * p.intercept + p.slope * d.sxc)) / d.nc END) AS s1,
        |    MAX(CASE WHEN d.dow = 2 THEN (d.syc - (d.nc * p.intercept + p.slope * d.sxc)) / d.nc END) AS s2,
        |    MAX(CASE WHEN d.dow = 3 THEN (d.syc - (d.nc * p.intercept + p.slope * d.sxc)) / d.nc END) AS s3,
        |    MAX(CASE WHEN d.dow = 4 THEN (d.syc - (d.nc * p.intercept + p.slope * d.sxc)) / d.nc END) AS s4,
        |    MAX(CASE WHEN d.dow = 5 THEN (d.syc - (d.nc * p.intercept + p.slope * d.sxc)) / d.nc END) AS s5,
        |    MAX(CASE WHEN d.dow = 6 THEN (d.syc - (d.nc * p.intercept + p.slope * d.sxc)) / d.nc END) AS s6
        |  FROM dowfull d JOIN fullparams p ON p.segment = d.segment
        |  GROUP BY 1),
        |final AS (
        |  SELECT p.segment, p.kind, p.bias, p.cap_cents, p.xmax, p.slope, p.intercept,
        |    COALESCE(o.s0, 0) AS s0, COALESCE(o.s1, 0) AS s1, COALESCE(o.s2, 0) AS s2,
        |    COALESCE(o.s3, 0) AS s3, COALESCE(o.s4, 0) AS s4, COALESCE(o.s5, 0) AS s5,
        |    COALESCE(o.s6, 0) AS s6
        |  FROM fullparams p LEFT JOIN offpivot o ON o.segment = p.segment)
        |SELECT segment, kind, ROUND(bias, 8) AS cv_bias,
        |  ROUND(CASE kind
        |    WHEN 'sat' THEN (cap_cents / 100.0) * (intercept + slope * (xmax + 1))
        |      / (1000000.0 + (intercept + slope * (xmax + 1)))
        |    WHEN 'seasonal' THEN (intercept + slope * (xmax + 1)) +
        |      CASE CAST(xmax + 1 AS BIGINT) % 7 WHEN 0 THEN s0 WHEN 1 THEN s1
        |        WHEN 2 THEN s2 WHEN 3 THEN s3 WHEN 4 THEN s4 WHEN 5 THEN s5 ELSE s6 END
        |    ELSE intercept + slope * (xmax + 1) END, 6) AS f1,
        |  ROUND(CASE kind
        |    WHEN 'sat' THEN (cap_cents / 100.0) * (intercept + slope * (xmax + 2))
        |      / (1000000.0 + (intercept + slope * (xmax + 2)))
        |    WHEN 'seasonal' THEN (intercept + slope * (xmax + 2)) +
        |      CASE CAST(xmax + 2 AS BIGINT) % 7 WHEN 0 THEN s0 WHEN 1 THEN s1
        |        WHEN 2 THEN s2 WHEN 3 THEN s3 WHEN 4 THEN s4 WHEN 5 THEN s5 ELSE s6 END
        |    ELSE intercept + slope * (xmax + 2) END, 6) AS f2,
        |  ROUND(CASE kind
        |    WHEN 'sat' THEN (cap_cents / 100.0) * (intercept + slope * (xmax + 3))
        |      / (1000000.0 + (intercept + slope * (xmax + 3)))
        |    WHEN 'seasonal' THEN (intercept + slope * (xmax + 3)) +
        |      CASE CAST(xmax + 3 AS BIGINT) % 7 WHEN 0 THEN s0 WHEN 1 THEN s1
        |        WHEN 2 THEN s2 WHEN 3 THEN s3 WHEN 4 THEN s4 WHEN 5 THEN s5 ELSE s6 END
        |    ELSE intercept + slope * (xmax + 3) END, 6) AS f3
        |FROM final ORDER BY segment""".stripMargin,
    // q110's CTE chain (defaultGrid CV winner) extended with the seeded
    // residual bootstrap: residual pool in x order, draw index =
    // md5(segment|i|h) first-15-hex-digits mod n (the portableHash
    // convention), sample = yhat(h) + pool[idx]; then the q61-style
    // list_sort interpolation and prepend-0.0 left-fold mean mirror the
    // engine's arrayPercentile/arrayMean op order exactly.
    "q121_forecast_paths" ->
      s"""WITH daily AS (
        |  ${dailySeriesSql("DOUBLE")}),
        |obs AS (
        |  SELECT segment, x, y,
        |    row_number() OVER (PARTITION BY segment ORDER BY x) AS rn,
        |    COUNT(*) OVER (PARTITION BY segment) AS n
        |  FROM daily),
        |cuts AS (
        |  SELECT DISTINCT segment, n - 2 - 2 * m.m AS j
        |  FROM obs CROSS JOIN (VALUES (0), (1), (2)) m(m)
        |  WHERE n - 2 - 2 * m.m >= 6),
        |specs AS (SELECT * FROM (VALUES ('mean', 0, 0), ('mean', 8, 1),
        |  ('linear', 0, 2), ('linear', 8, 3)) s(kind, w, ord)),
        |train AS (
        |  SELECT o.segment, c.j, s.kind, s.w, s.ord, o.x, o.y
        |  FROM obs o
        |  JOIN cuts c ON o.segment = c.segment AND o.rn <= c.j
        |  CROSS JOIN specs s
        |  WHERE s.w = 0 OR o.rn > c.j - s.w),
        |fits AS (
        |  SELECT segment, j, kind, w, ord,
        |    CAST(COUNT(*) AS DOUBLE) AS fn,
        |    CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(x AS DECIMAL(18,2)) * y) AS DOUBLE) AS sxy
        |  FROM train GROUP BY 1, 2, 3, 4, 5),
        |params AS (
        |  SELECT segment, j, kind, w, ord,
        |    CASE WHEN kind = 'linear'
        |      THEN (fn * sxy - sx * sy) / (fn * sxx - sx * sx) ELSE 0 END AS slope,
        |    CASE WHEN kind = 'linear'
        |      THEN (sy - ((fn * sxy - sx * sy) / (fn * sxx - sx * sx)) * sx) / fn
        |      ELSE sy / fn END AS intercept
        |  FROM fits),
        |preds AS (
        |  SELECT p.segment, p.j, p.kind, p.w, p.ord,
        |    SUM(p.intercept + p.slope * o.x) AS yhat,
        |    SUM(CAST(o.y AS DOUBLE)) AS yy
        |  FROM params p
        |  JOIN obs o ON o.segment = p.segment AND o.rn > p.j AND o.rn <= p.j + 2
        |  GROUP BY 1, 2, 3, 4, 5),
        |biases AS (
        |  SELECT segment, kind, w, ord, yhat / yy - 1 AS b,
        |    row_number() OVER (PARTITION BY segment, ord ORDER BY j) AS bi
        |  FROM preds),
        |metrics AS (
        |  SELECT segment, kind, w, ord,
        |    ((MAX(CASE WHEN bi = 1 THEN b END) + MAX(CASE WHEN bi = 2 THEN b END))
        |      + MAX(CASE WHEN bi = 3 THEN b END)) / 3 AS bias
        |  FROM biases GROUP BY 1, 2, 3, 4),
        |best AS (
        |  SELECT segment, kind, w, ord, bias,
        |    row_number() OVER (PARTITION BY segment ORDER BY ABS(bias), ord) AS r
        |  FROM metrics),
        |fullfit AS (
        |  SELECT o.segment, b.kind, b.w,
        |    CAST(COUNT(*) AS DOUBLE) AS fn,
        |    CAST(SUM(CAST(o.x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(o.y) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(o.x AS DECIMAL(18,2)) * CAST(o.x AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(o.x AS DECIMAL(18,2)) * o.y) AS DOUBLE) AS sxy,
        |    MAX(o.x) AS xmax
        |  FROM obs o
        |  JOIN best b ON b.segment = o.segment AND b.r = 1
        |  WHERE b.w = 0 OR o.rn > o.n - b.w
        |  GROUP BY 1, 2, 3),
        |fullparams AS (
        |  SELECT segment, kind, w, xmax,
        |    CASE WHEN kind = 'linear'
        |      THEN (fn * sxy - sx * sy) / (fn * sxx - sx * sx) ELSE 0 END AS slope,
        |    CASE WHEN kind = 'linear'
        |      THEN (sy - ((fn * sxy - sx * sy) / (fn * sxx - sx * sx)) * sx) / fn
        |      ELSE sy / fn END AS intercept
        |  FROM fullfit),
        |resid AS (
        |  SELECT o.segment, o.rn,
        |    CAST(o.y AS DOUBLE) - (fp.intercept + fp.slope * o.x) AS r
        |  FROM obs o JOIN fullparams fp ON fp.segment = o.segment),
        |rl AS (SELECT segment, list(r ORDER BY rn) AS rs, COUNT(*) AS nr
        |  FROM resid GROUP BY 1),
        |hs AS (SELECT unnest(generate_series(1, 3)) AS h),
        |ii AS (SELECT unnest(generate_series(0, 999)) AS i),
        |paths AS (
        |  SELECT rl.segment, hs.h, ii.i,
        |    (fp.intercept + fp.slope * (fp.xmax + hs.h)) + rl.rs[
        |      CAST(CAST(('0x' || substr(md5(rl.segment || '|' ||
        |        CAST(ii.i AS VARCHAR) || '|' || CAST(hs.h AS VARCHAR)), 1, 15))
        |        AS BIGINT) % rl.nr AS INTEGER) + 1] AS v
        |  FROM rl JOIN fullparams fp ON fp.segment = rl.segment
        |  CROSS JOIN hs CROSS JOIN ii),
        |agg AS (
        |  SELECT segment, h, list(v ORDER BY i) AS vi,
        |    list_sort(list(v)) AS vs, COUNT(*) AS n
        |  FROM paths GROUP BY 1, 2),
        |iq AS (SELECT segment, h, vi, vs, n,
        |  CAST(0.1 AS DOUBLE) * (n - 1) AS i10,
        |  CAST(0.5 AS DOUBLE) * (n - 1) AS i50,
        |  CAST(0.9 AS DOUBLE) * (n - 1) AS i90 FROM agg)
        |SELECT segment, CAST(h AS INTEGER) AS h,
        |  ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vi), (a, x) -> a + x) / n, 6) AS mean,
        |  ROUND(vs[CAST(FLOOR(i10) AS INTEGER) + 1] + (vs[CAST(CEIL(i10) AS INTEGER) + 1] - vs[CAST(FLOOR(i10) AS INTEGER) + 1]) * (i10 - FLOOR(i10)), 6) AS p10,
        |  ROUND(vs[CAST(FLOOR(i50) AS INTEGER) + 1] + (vs[CAST(CEIL(i50) AS INTEGER) + 1] - vs[CAST(FLOOR(i50) AS INTEGER) + 1]) * (i50 - FLOOR(i50)), 6) AS p50,
        |  ROUND(vs[CAST(FLOOR(i90) AS INTEGER) + 1] + (vs[CAST(CEIL(i90) AS INTEGER) + 1] - vs[CAST(FLOOR(i90) AS INTEGER) + 1]) * (i90 - FLOOR(i90)), 6) AS p90
        |FROM iq ORDER BY segment, h""".stripMargin
  )
}
