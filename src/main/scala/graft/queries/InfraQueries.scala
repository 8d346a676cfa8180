package graft.queries

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Scratch
import graft.util.Tables._
import graft.catalog.MutableTable
import graft.dag.{CorpusLoader, ViewDag, ViewDef}
import graft.operators.{Closure, Incremental}
import graft.streaming.StreamOps

/** Infrastructure block: view-DAG deployment (D6), DML rewrites (D2/D3),
  * incremental watermark rollup (A18/I1-I3), transitive closure (G1),
  * and a Structured Streaming windowed aggregation — each surfaced as an
  * oracle-checkable query.
  */
object InfraQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Root of the reference SQL corpus (q108/q109). Overridable so the
    * bench/verify harness isn't coupled to one machine's checkout. */
  private[graft] def corpusDir: java.nio.file.Path =
    java.nio.file.Path.of(sys.env.getOrElse(
      "SPARK_GRAFT_CORPUS_ROOT", "/root/reference/jobs/webcompat-kb/data"))

  /** [[corpusDir]], failing with a clear message rather than a deep
    * FileNotFound mid-query. */
  private def corpusRoot: java.nio.file.Path = {
    val p = corpusDir
    require(java.nio.file.Files.isDirectory(p),
      s"SQL corpus root not found: $p (set SPARK_GRAFT_CORPUS_ROOT)")
    p
  }

  /** The `events` table's schema, for the queries that stream it. */
  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  val queries: Map[String, Q] = Map(
    // D6 — deploy a 3-level view DAG (declared out of dependency order;
    // topo sort must fix it), then query the top view. The rendered refs
    // resolve through the session catalog exactly like update_schema.py's
    // CREATE OR REPLACE chain.
    "q90_view_dag" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("src_orders")
      t(s, dir, "customer").createOrReplaceTempView("src_customer")
      val views = Seq(
        ViewDef("v_top_segments",
          """SELECT c_mktsegment, COUNT(*) AS n_big
            |FROM {{ ref('v_cust_orders') }} WHERE total > 150000
            |GROUP BY c_mktsegment""".stripMargin),
        ViewDef("v_cust_orders",
          """SELECT c.c_custkey, c.c_mktsegment, o.total
            |FROM {{ ref('src_customer') }} c
            |JOIN {{ ref('v_order_totals') }} o ON o.o_custkey = c.c_custkey""".stripMargin),
        ViewDef("v_order_totals",
          """SELECT o_custkey,
            |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
            |FROM {{ ref('src_orders') }} GROUP BY o_custkey""".stripMargin))
      val result = ViewDag.deploy(s, views)
      require(result.order == Seq("v_order_totals", "v_cust_orders", "v_top_segments"),
        s"unexpected topo order: ${result.order}")
      ViewDag.table(s, "v_top_segments").orderBy("c_mktsegment")
    }),

    // D2/D3/D4 — UPDATE...FROM + DELETE WHERE rewrites on an immutable
    // copy: bump BUILDING balances by their order count, delete AUTOMOBILE
    // rows, return the final table.
    "q91_dml_rewrite" -> ((s, dir) => {
      val path = Scratch.fresh(s"dml|$dir")
      t(s, dir, "customer").write.mode(SaveMode.Overwrite).parquet(path)
      val tbl = MutableTable(s, path)
      val orderCounts = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg((count(lit(1)).cast(DoubleType) * 10).as("bump"))
      val src = tbl.read.join(orderCounts, Seq("c_custkey"))
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), (col("c_acctbal") + col("bump")).as("new_bal"))
      tbl.updateFrom(src, Seq("c_custkey"), Map("c_acctbal" -> "new_bal"))
      tbl.deleteWhere(col("c_mktsegment") === "AUTOMOBILE")
      tbl.read.select("c_custkey", "c_mktsegment", "c_acctbal").orderBy("c_custkey")
    }),

    // A18/I1 — incremental rollup: watermark read from the "already
    // stored" aggregate (first 10 days), then only the window
    // (watermark, max-2d] is aggregated and appended.
    "q92_incremental_rollup" -> ((s, dir) => {
      val e = t(s, dir, "events").withColumn("day", to_date(col("ts")))
      val stored = e.filter(col("day") <= "2024-01-10")
        .groupBy("day", "event_type").agg(count(lit(1)).as("n"))
      val wmDay = java.sql.Date.valueOf("2024-01-10")
      val lagGuard = java.sql.Date.valueOf("2024-01-29") // max day - 1 (late-data guard)
      val fresh = e.filter(col("day") > lit(wmDay) && col("day") <= lit(lagGuard))
        .groupBy("day", "event_type").agg(count(lit(1)).as("n"))
      stored.unionByName(fresh).orderBy("day", "event_type")
    }),

    // G1 — transitive closure to fixpoint: synthetic within-region
    // "neighbor chain" edges over nation (n→next n in same region), the
    // closure must recover all ordered same-region pairs. Oracle:
    // recursive CTE.
    "q93_closure" -> ((s, dir) => {
      val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_regionkey"))
      // edge: consecutive nation keys within a region
      val ranked = n.withColumn("rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("n_regionkey").orderBy("n_nationkey")))
      val e1 = ranked.select(col("n_regionkey"), col("rk"), col("n_nationkey").as("src"))
      val e2 = ranked.select(col("n_regionkey"), (col("rk") - 1).as("rk"),
        col("n_nationkey").as("dst"))
      val edges = e1.join(e2, Seq("n_regionkey", "rk")).select("src", "dst")
      Closure.transitiveClosure(edges, maxIter = 10).orderBy("src", "dst")
    }),

    // Z-order (Morton) layout over orders (customer × order-day): grid
    // both keys to 16 bits from their actual min/max, interleave, and
    // audit the top-10-bit z-buckets — each bucket's min/max box bounds
    // BOTH dimensions, which is the parquet-stats skippability a 2-D
    // box query exploits at scale (see ZOrder scaladoc + PlanAuditSpec
    // for the partition-prune side). Oracle replays the exact bit
    // interleave (generated from the same positions).
    "q126_zorder_layout" -> ((s, dir) => {
      val day = datediff(to_date(col("o_orderdate")),
        lit(java.sql.Date.valueOf("1970-01-01"))).cast(LongType)
      graft.operators.ZOrder.layoutReport(
        t(s, dir, "orders").select(col("o_custkey").as("x"), day.as("y")))
        .orderBy("bucket")
    }),

    // Bounded-hop weighted shortest paths (4 Bellman-Ford rounds) from
    // every 400th customer over the weighted purchase graph (edge
    // weight = min lineitem quantity for the pair). Integer min/plus
    // with an Inf sentinel — the unrolled oracle replays every round
    // exactly. Same stationary-edge shape as q128.
    "q135_shortest_path" -> ((s, dir) => {
      val pair = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, dir, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_quantity"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("c"),
          (col("l_suppkey") + 10000000L).as("sup"))
        .agg(min(col("l_quantity")).cast(LongType).as("w"))
        // the symmetrizing union + the operator's internal ed/nodes
        // branches evaluate this orders⋈lineitem aggregate 4x without a
        // barrier — checkpoint the |pairs|-sized frame once (r16)
        .localCheckpoint()
      val edges = pair.select(col("c").as("src"), col("sup").as("dst"), col("w"))
        .union(pair.select(col("sup").as("src"), col("c").as("dst"), col("w")))
      val sources = t(s, dir, "orders")
        .filter(col("o_custkey") % 400 === 0)
        .select(col("o_custkey").as("id")).distinct()
      graft.operators.ShortestPath.run(edges, sources, rounds = 4)
        .select(col("id").as("node_id"), col("dist"))
        .orderBy("dist", "node_id").limit(50)
    }),

    // Bounded-round k-core peeling on the customer↔supplier
    // co-purchase graph (same edge table as q135): 3 rounds at k=10
    // keep only nodes that retain ≥10 surviving neighbors through
    // every peel — the dense backbone a sampling/curriculum pipeline
    // keeps. Fixed rounds, unrolled oracle (q128/q135 pattern).
    "q180_kcore" -> ((s, dir) => {
      val pair = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"),
          (col("l_suppkey") + 10000000L).as("sup")).distinct()
      // both directions from one explode: the orders⋈lineitem distinct
      // is evaluated once, by the operator's edge barrier
      val edges = pair
        .select(explode(array(
          struct(col("c").as("src"), col("sup").as("dst")),
          struct(col("sup").as("src"), col("c").as("dst")))).as("e"))
        .select("e.src", "e.dst")
      graft.operators.KCore.run(edges, k = 10, rounds = 3)
        .select(col("id").as("node_id"), col("deg"))
        .orderBy("node_id")
    }),

    // CDC changelog apply (MERGE INTO): an out-of-order I/U/D changelog
    // with duplicate keys folds onto a base snapshot — latest-(seq, op)
    // wins, tombstones delete, untouched rows pass through. One window
    // shuffle of the changelog + one key join; the snapshot is scanned
    // exactly once. All money arithmetic in decimal (exact, order-free).
    "q129_cdc_apply" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val snap = o.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("price"),
          col("o_orderstatus").as("status"))
      val upserts = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"), (col("o_orderkey") % 7).as("seq"),
          lit("U").as("op"),
          (col("o_totalprice").cast(DecimalType(18, 2)) + lit(10)).as("price"),
          col("o_orderpriority").as("status"))
      val deletes = o.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey").as("k"), (col("o_orderkey") % 11).as("seq"),
          lit("D").as("op"), lit(null).cast(DecimalType(18, 2)).as("price"),
          lit(null).cast(StringType).as("status"))
      graft.operators.CdcApply(snap, upserts.unionByName(deletes),
          key = "k", seqCols = Seq("seq"))
        .groupBy("status")
        .agg(count(lit(1)).as("n"),
          sum("price").cast(DoubleType).as("sum_price"),
          sum("k").as("sum_key"),
          sum(when(col("from_change"), 1L).otherwise(0L)).as("n_changed"))
        .orderBy("status")
    }),

    // Hierarchy flattening by pointer doubling: a binary tree over the
    // order keys (parent(k) = max(k div 2, 1), root 1 — depth ≈ log2 N,
    // ~17 levels at sf0.1) flattened to (root, depth) in 5 doubling
    // rounds (2^5 = 32 ≥ max depth) — each round ONE |V| self-join, no
    // per-level frontier. The oracle needs NO recursion at all: for
    // this parent function depth(k) = bitlength(k) − 1 EXACTLY, so the
    // engine's log-round join ladder is checked against a closed form
    // — about as independent as two implementations get. Published as
    // the per-depth census + identity checksum.
    "q240_hierarchy_flatten" -> ((s, dir) => {
      val nodes = t(s, dir, "orders")
        .select((col("o_orderkey") + 1).as("id")) // keys start at 0; ids ≥ 1
        .withColumn("parent", greatest(expr("id div 2"), lit(1L)))
      graft.operators.Hierarchy.flatten(nodes, rounds = 5)
        .groupBy("depth")
        .agg(count(lit(1)).as("n"), sum("id").as("id_sum"),
          count_if(col("root") =!= 1).as("n_bad_root"))
        .orderBy("depth")
    }),

    // Aggregate navigator (aggregate-awareness): the monthly question
    // is answered from the MONTHLY rollup, which is itself derived
    // from the DAILY rollup (never the fact table) — the two-level MV
    // chain every BI semantic layer routes through. The published
    // result carries the navigator's answer; the oracle recomputes
    // from raw facts — proving the rollup chain loses nothing. Each
    // level is a partial-aggregatable re-aggregation of the level
    // below: the fact table is scanned exactly once.
    "q235_agg_navigator" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100).cast(LongType)).as("cents"))
      val monthly = daily
        .groupBy(col("event_type"), trunc(col("day"), "month").as("month"))
        .agg(sum("n").as("n"), sum("cents").as("cents"))
      monthly
        .select(col("event_type"), col("month"), col("n"), col("cents"))
        .orderBy("event_type", "month")
    }),

    // Incremental JOIN-view maintenance (ΔV = ΔA⋈B for a static dim —
    // the base case of the bilinear Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB):
    // the materialized V_old and the delta-only join union into the
    // maintained view, and the published aggregate must equal the full
    // recompute (the oracle IS the full join — the gate proves the
    // incremental path loses nothing). At scale the delta join touches
    // |Δ| rows, never the fact history.
    "q226_ivm_join" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val aOld = o.filter(col("o_orderkey") % 10 =!= 0)
      val dA = o.filter(col("o_orderkey") % 10 === 0)
      val vOld = aOld.join(c, col("o_custkey") === col("c_custkey"))
      val dV = dA.join(c, col("o_custkey") === col("c_custkey"))
      vOld.unionByName(dV)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum("price").cast(DoubleType).as("total"),
          sum("o_orderkey").as("key_sum"))
        .orderBy("c_mktsegment")
    }),

    // Incremental AGGREGATE-view maintenance with RETRACTIONS (the
    // Flink/Materialize-style upsert-aware rollup): the maintained
    // per-status (n, Σprice) absorbs the q129 changelog WITHOUT
    // rescanning the snapshot — changed keys' old rows (a key-pruned
    // semi-join probe at scale) emit (−1, −price) retractions, winning
    // non-delete changes emit (+1, +price) insertions, and the delta
    // folds onto the base aggregate. The oracle is the full
    // apply-then-aggregate recompute: the incremental fold must land
    // on exactly the same numbers.
    "q227_ivm_agg" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val snap = o.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("price"),
          col("o_orderstatus").as("status"))
      val upserts = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"), (col("o_orderkey") % 7).as("seq"),
          lit("U").as("op"),
          (col("o_totalprice").cast(DecimalType(18, 2)) + lit(10))
            .cast(DecimalType(18, 2)).as("price"),
          col("o_orderpriority").as("status"))
      val deletes = o.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey").as("k"), (col("o_orderkey") % 11).as("seq"),
          lit("D").as("op"), lit(null).cast(DecimalType(18, 2)).as("price"),
          lit(null).cast(StringType).as("status"))
      val winners = graft.operators.CdcApply.latest(
        upserts.unionByName(deletes), key = "k", seqCols = Seq("seq"))
      val retract = snap
        .join(winners.select("k"), Seq("k"), "left_semi")
        .select(col("status"), lit(-1L).as("dn"),
          (-col("price")).cast(DecimalType(18, 2)).as("dp"))
      val insert = winners.filter(col("op") =!= "D")
        .select(col("status"), lit(1L).as("dn"), col("price").as("dp"))
      val baseAgg = snap.groupBy("status")
        .agg(count(lit(1)).as("n0"), sum("price").as("p0"))
      val delta = retract.unionByName(insert).groupBy("status")
        .agg(sum("dn").as("dn"), sum("dp").as("dp"))
      baseAgg.join(delta, Seq("status"), "full_outer")
        .select(col("status"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("n"),
          (coalesce(col("p0"), lit(0).cast(DecimalType(18, 2))) +
            coalesce(col("dp"), lit(0).cast(DecimalType(18, 2))))
            .cast(DoubleType).as("total"))
        .filter(col("n") > 0)
        .orderBy("status")
    }),

    // CDC CAPTURE — the inverse of the q129 fold: diff two snapshots
    // into the minimal I/U/D changelog (inserts where only the new
    // snapshot has the key, deletes where only the old, updates where
    // the null-safe payload struct differs; unchanged keys emit
    // NOTHING, so the log is |delta|-sized). One key-equi full-outer
    // join, no windows; applying the captured log back onto the old
    // snapshot reproduces the new one exactly (Wave8Spec round-trip).
    "q204_cdc_capture" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val snapOld = o.filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("price"),
          col("o_orderstatus").as("status"))
      val snapNew = o.filter(col("o_orderkey") % 7 =!= 3)
        .select(col("o_orderkey").as("k"),
          (col("o_totalprice").cast(DecimalType(18, 2)) +
            when(col("o_orderkey") % 3 === 0, 5).otherwise(0))
            .cast(DecimalType(18, 2)).as("price"),
          col("o_orderstatus").as("status"))
      // price published as DOUBLE: a DECIMAL publish hash-mismatches in
      // the driver's pyarrow-vs-duckdb comparator on rendering alone
      // ('205946.60' vs '205946.6', Decimal None vs float nan —
      // CORRECTNESS_r11 q204); the diff itself stays exact-decimal.
      graft.operators.CdcApply.capture(snapOld, snapNew, key = "k")
        .withColumn("price", col("price").cast(DoubleType))
        .orderBy("k")
    }),

    // Bitmap index build + conjunctive query: per (column value, 63-row
    // word) bitmaps via bit_or(1 << rid%63) — 63 bits per BIGINT word
    // keeps the sign bit clear (an engine-portable left shift; DuckDB
    // raises on 1<<63) — a value-partitioned,
    // partial-aggregatable build, |index| ≪ |table| on low-cardinality
    // columns — then status='F' ∧ priority='1-URGENT' answered by a
    // word-equi join + bit_count(b1 & b2), never rescanning the fact
    // table. The query publishes the bitmap answer NEXT TO the direct
    // scan count with an equality gate: two independent evaluation
    // strategies must agree exactly.
    "q205_bitmap_index" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey").as("rid"),
        col("o_orderstatus").as("status"),
        col("o_orderpriority").as("prio"))
      def idx(c: String) = o
        .groupBy(col(c).as("v"), expr("rid div 63").as("word"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), " +
          "CAST(rid % 63 AS INT)))").as("bits"))
      val f = idx("status").filter(col("v") === "F")
        .select(col("word"), col("bits").as("b1"))
      val u = idx("prio").filter(col("v") === "1-URGENT")
        .select(col("word"), col("bits").as("b2"))
      val viaBitmap = f.join(u, "word")
        .agg(coalesce(sum(expr("bit_count(b1 & b2)")), lit(0L))
          .as("n_match"),
          count(lit(1)).as("n_words_joined"))
      val direct = o.agg(count_if(col("status") === "F" &&
        col("prio") === "1-URGENT").as("n_direct"))
      viaBitmap.crossJoin(broadcast(direct))
        .select(col("n_match"), col("n_words_joined"), col("n_direct"),
          (col("n_match") === col("n_direct")).as("agree"))
    }),

    // Storage-layout planning: per-column dictionary-vs-RLE encoding
    // estimates from EXACT cardinality and run counts in the table's
    // (l_orderkey, l_linenumber) order. Runs are counted DISTRIBUTED-
    // exactly: within-chunk matches via a chunk-partitioned lag window
    // plus a chunk-boundary stitch over the tiny chunk-summary table —
    // runs = n − matches − boundary_matches — so no global window ever
    // sees the full column (the oracle runs the naive global window as
    // the independent implementation). val itself is the final order
    // tiebreak: (ok, ln) is not unique here, and with val in the key a
    // tie group sorts identically in any engine. Decision integers only:
    // dict_bits = n·w + nd·40, rle_bits = runs·(w+32), w = bitlen(nd−1).
    "q201_encoding_stats" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        col("l_returnflag").as("returnflag"),
        col("l_linestatus").as("linestatus"),
        col("l_quantity").cast(LongType).cast(StringType).as("quantity"),
        month(col("l_shipdate")).cast(StringType).as("shipmonth"))
      // the unpivoted frame feeds both the run-length window path and
      // the per-column distinct count. NOT checkpointed (r17): the r16
      // barrier materialized a 4x|lineitem| frame in executor storage
      // for a branch whose map side reduces to ~nothing (the distinct
      // count partial-aggregates to <= NDV rows per task) — at 8x
      // lineitem the stress A/B measured checkpoint 25.6 s vs recompute
      // 8.1 s (r17 stress A/B, PERF_NOTES): re-running the scan+Expand twice
      // is scan-bound and cheap; pinning O(rows) to block storage
      // spills and evicts. sf0.1 confirmed flat.
      val long = li.unpivot(Array(col("ok"), col("ln")),
        Array(col("returnflag"), col("linestatus"), col("quantity"),
          col("shipmonth")), "colname", "val")
        .withColumn("chunk", expr("ok div 1000"))
      // (ok, ln) is NOT unique in the synthetic lineitem — val joins the
      // order key so tie groups sort identically in both engines and the
      // match count is well-defined
      val w = Window.partitionBy("colname", "chunk")
        .orderBy("ok", "ln", "val")
      val perChunk = long
        .withColumn("same",
          when(col("val") === lag("val", 1).over(w), 1L).otherwise(0L))
        .groupBy("colname", "chunk")
        .agg(count(lit(1)).as("n"), sum("same").as("matches"),
          min(struct(col("ok"), col("ln"), col("val")))
            .getField("val").as("first_val"),
          max(struct(col("ok"), col("ln"), col("val")))
            .getField("val").as("last_val"))
      val wc = Window.partitionBy("colname").orderBy("chunk")
      val stitched = perChunk
        .withColumn("bmatch",
          when(col("first_val") === lag("last_val", 1).over(wc), 1L)
            .otherwise(0L))
        .groupBy("colname")
        .agg(sum("n").as("n"), sum("matches").as("m"),
          sum("bmatch").as("bm"))
      val nd = long.groupBy("colname")
        .agg(count_distinct(col("val")).as("n_distinct"))
      stitched.join(nd, "colname")
        .select(col("colname"), col("n"), col("n_distinct"),
          (col("n") - col("m") - col("bm")).as("runs"),
          length(bin(col("n_distinct") - 1)).cast(LongType).as("w_bits"))
        .select(col("colname"), col("n"), col("n_distinct"), col("runs"),
          col("w_bits"),
          (col("n") * col("w_bits") + col("n_distinct") * 40 <
            col("runs") * (col("w_bits") + 32)).as("dict_better"))
        .orderBy("colname")
    }),

    // Streaming form of the q129 CDC fold: the SAME out-of-order
    // changelog arrives chopped into 4 micro-batch files, and
    // StreamOps.cdcUpsertStream folds each trigger onto a persisted
    // keyed state that remembers the latest-applied (seq, op) per key —
    // so the final table equals the single-shot batch fold regardless
    // of chop or arrival order, and a late lower-seq update can never
    // resurrect a tombstoned key. The oracle is the batch fold's SQL:
    // two independent implementations of MERGE semantics must agree
    // row-for-row.
    "q199_stream_cdc_upsert" -> ((s, dir) => {
      val logSchema = StructType(Seq(
        StructField("k", LongType), StructField("seq", LongType),
        StructField("op", StringType),
        StructField("price", DecimalType(18, 2)),
        StructField("status", StringType)))
      val o = t(s, dir, "orders")
      val snap = o.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("price"),
          col("o_orderstatus").as("status"))
      // the q129 changelog chopped into 4 arrival files, built once per
      // (JVM, sf dir); the per-run state dir is fresh on each call
      val logDir = Scratch.once(s"cdclog|$dir") { ld =>
        val upserts = o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey").as("k"),
            (col("o_orderkey") % 7).as("seq"), lit("U").as("op"),
            (col("o_totalprice").cast(DecimalType(18, 2)) + lit(10))
              .cast(DecimalType(18, 2)).as("price"),
            col("o_orderpriority").as("status"))
        val deletes = o.filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey").as("k"),
            (col("o_orderkey") % 11).as("seq"), lit("D").as("op"),
            lit(null).cast(DecimalType(18, 2)).as("price"),
            lit(null).cast(StringType).as("status"))
        upserts.unionByName(deletes).repartition(4)
          .write.mode("overwrite").parquet(ld)
      }
      // DOUBLE publish for the same driver-comparator reason as q204.
      StreamOps.cdcUpsertStream(s, logDir, Scratch.fresh(s"cdcstate|$dir"),
          logSchema, snap)
        .withColumn("price", col("price").cast(DoubleType))
        .orderBy("k")
    }),

    // Stream-stream LEFT OUTER watermarked join (the outer-emission
    // semantics q69's inner join doesn't exercise): purchases joined to
    // the same user's clicks in the preceding day, unmatched purchases
    // surfacing as null rows once both watermarks pass their bound.
    // Events arrive as ONE data file + the sentinel that retires the
    // final window (see StreamOps.streamLeftOuterJoinAvailableNow) —
    // each stream-stream trigger pays a fixed 4-store-per-partition
    // commit cost that dominates at this join size, so the bench
    // fixture uses the minimum trigger count while cross-batch
    // matching (click and purchase split across triggers) stays
    // spec-pinned in StreamOpsSpec. Oracle = the batch LEFT JOIN:
    // same pairs, same unmatched anchors, regardless of chop.
    "q258_stream_left_outer" -> ((s, dir) => {
      // events staged once per (JVM, sf dir) as ordered arrival files +
      // the watermark sentinel
      val staged = Scratch.once(s"slostage|$dir") { sd =>
        val e = t(s, dir, "events")
        val base = System.currentTimeMillis()
        Scratch.stageFile(sd, "00_data",
          e.filter(col("event_type").isin("purchase", "click")), base)
        import s.implicits._
        val far = java.time.LocalDateTime.of(2100, 1, 1, 0, 0)
        val sentinel = Seq(
          (-1L, far, -1L, "purchase", 0.0, "{}"),
          (-2L, far, -1L, "click", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        Scratch.stageFile(sd, "01_sentinel", sentinel, base + 20000)
      }
      StreamOps.streamLeftOuterJoinAvailableNow(s, staged, eventsSchema,
          anchorType = "purchase", otherType = "click", window = "1 DAY",
          queryName = "stream_louter")
        .groupBy(col("a_user").as("user_id"))
        .agg(countDistinct("a_id").as("n_anchors"),
          count(col("b_id")).as("n_matched"),
          sum(when(col("b_id").isNull, 1L).otherwise(0L)).as("n_unmatched"))
        .orderBy("user_id")
    }),

    // Bitemporal as-of: VALID time (when a fact held in the world) ×
    // TRANSACTION time (when we recorded it) — the two-axis form of
    // time travel that SCD2 (q127/q198, transaction-time only) can't
    // answer: "as of what we knew on T_tx, what was valid on T_v?"
    // Versions built deterministically from orders (v2 = a correction
    // recorded 10 days later for every 4th order, longer validity,
    // +5 price). Visibility = latest tx ≤ T_tx per key (the latest-row
    // idiom — goes through the WindowTopKRewrite in this harness),
    // then the valid-interval filter. Scale: one key-partition
    // window over 2|orders| version rows, no joins.
    "q265_bitemporal_asof" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderdate").cast(DateType).as("vf"),
        col("o_totalprice").as("price0"),
        col("o_orderstatus").as("status0"))
      val v1 = o.select(col("k"), lit(1L).as("version"),
        col("vf").as("tx"), col("vf"), date_add(col("vf"), 30).as("vt"),
        col("price0").as("price"), col("status0").as("status"))
      val v2 = o.filter(col("k") % 4 === 0)
        .select(col("k"), lit(2L).as("version"),
          date_add(col("vf"), 10).as("tx"), col("vf"),
          date_add(col("vf"), 45).as("vt"),
          (col("price0") + 5.0).as("price"), lit("corrected").as("status"))
      val asOfTx = lit("1996-06-01").cast(DateType)
      val tv = lit("1996-06-10").cast(DateType)
      v1.unionByName(v2).filter(col("tx") <= asOfTx)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("k")
            .orderBy(desc("tx"), desc("version"))))
        .filter(col("rn") === 1)
        .filter(col("vf") <= tv && tv < col("vt"))
        .select(col("k"), col("version"), col("vf"), col("vt"),
          col("price"), col("status"))
        .orderBy("k")
    }),

    // Triangle counting by degree-oriented wedge join over the supplier
    // co-purchase graph (suppliers sharing an order, 1-in-7 order
    // sample to keep the projection sparse). Orientation makes the
    // wedge fan-out O(√E)-bounded on hubs and counts each triangle
    // exactly once; the oracle is the NAIVE u<v<w three-way edge join —
    // orientation is perf, the count is the invariant.
    "q153_triangle_count" -> ((s, dir) => {
      val ol = t(s, dir, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(7)) === 0)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      val edges = ol.select(col("ok"), col("sk").as("src"))
        .join(ol.select(col("ok"), col("sk").as("dst")), "ok")
        .filter(col("src") < col("dst"))
        .select("src", "dst")
      graft.operators.TriangleCount.count(edges)
    }),

    // Integer-exact PageRank (3 damped iterations) over the undirected
    // customer↔supplier purchase graph — fixed-point BIGINT ranks,
    // floor-div contributions, so the unrolled-CTE oracle replays the
    // whole fit bit-for-bit. Edges are distinct'd once and stay
    // partitioned by src across iterations; only the rank vector moves.
    "q128_pagerank" -> ((s, dir) => {
      val cs = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"),
          (col("l_suppkey") + 10000000L).as("sup"))
        .distinct()
        // symmetrizing union + PageRank's ed/degree/nodes branches
        // evaluate the orders⋈lineitem distinct up to 8x without a
        // barrier — checkpoint the pair frame once (r16)
        .localCheckpoint()
      val edges = cs.select(col("c").as("src"), col("sup").as("dst"))
        .union(cs.select(col("sup").as("src"), col("c").as("dst")))
      graft.operators.PageRank.run(edges, iters = 3)
        .select(col("id").as("node_id"), col("r").as("pr"),
          (col("id") >= 10000000L).as("is_supplier"))
        .orderBy(desc("pr"), col("node_id")).limit(25)
    }),

    // SCD Type-2 dimension build over the events changelog: each user's
    // event_type stream becomes versioned [valid_from, valid_to)
    // episodes with change detection (consecutive duplicates extend the
    // episode). One shuffle: every window pass shares the user_id hash
    // partitioning. Timestamps published as unix micros (the q107
    // epoch_us idiom).
    "q127_scd2_build" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        graft.functions.BqShims.epochMicros(col("ts")).as("tsm"), col("event_id"),
        col("event_type").as("segment"))
      graft.operators.Scd2.build(ev, key = "user_id", attr = "segment",
          ord = Seq("tsm", "event_id"))
        .orderBy("user_id", "version")
    }),

    // Time-in-state from the SCD2 episodes (the dwell-time analytics a
    // versioned dimension exists to answer): per segment, the total
    // micros users spent in it — closed episodes contribute
    // valid_to − valid_from, open episodes run to the corpus
    // high-watermark. Pure integer micros on top of the q127 build's
    // single entity-key exchange.
    "q236_dwell_time" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        graft.functions.BqShims.epochMicros(col("ts")).as("tsm"),
        col("event_id"), col("event_type").as("segment"))
      val hw = ev.agg(max("tsm").as("hw"))
      graft.operators.Scd2.build(ev, key = "user_id", attr = "segment",
          ord = Seq("tsm", "event_id"))
        .crossJoin(broadcast(hw))
        .select(col("segment"),
          (coalesce(col("valid_to"), col("hw")) - col("valid_from"))
            .as("dwell"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_episodes"),
          sum("dwell").as("total_dwell_us"),
          max("dwell").as("max_dwell_us"))
        .orderBy("segment")
    }),

    // Time-travel (as-of) read on the q127 SCD2 dimension: the table
    // state at T = 2024-01-16T00:00:00Z is the episodes whose
    // [valid_from, valid_to) interval covers T — the standard
    // bi-temporal consumer of an SCD2 build (one row per user active
    // at T). The as-of predicate is a free filter on the same single
    // user-hash shuffle as the build; at warehouse scale it prunes to
    // the partitions overlapping T.
    "q198_asof_snapshot" -> ((s, dir) => {
      val T = 1705363200000000L // 2024-01-16T00:00:00Z in epoch micros
      val ev = t(s, dir, "events").select(col("user_id"),
        graft.functions.BqShims.epochMicros(col("ts")).as("tsm"), col("event_id"),
        col("event_type").as("segment"))
      graft.operators.Scd2.build(ev, key = "user_id", attr = "segment",
          ord = Seq("tsm", "event_id"))
        .filter(col("valid_from") <= T &&
          (col("valid_to").isNull || col("valid_to") > T))
        .select(col("user_id"), col("segment"), col("valid_from"),
          col("version"))
        .orderBy("user_id")
    }),

    // Hilbert-curve layout over the same (customer × order-day) keys as
    // q126 — the better-locality clustering: unit-step curve traversal
    // keeps every bucket's 2-D box tighter than the Morton seams allow.
    // The 16-level rotate/reflect walk is pure integer CASE/shift/xor,
    // generated for both engines from the same loop (Hilbert.withH /
    // hilbertSql), so the oracle replays the layout bit-for-bit.
    "q130_hilbert_layout" -> ((s, dir) => {
      val day = datediff(to_date(col("o_orderdate")),
        lit(java.sql.Date.valueOf("1970-01-01"))).cast(LongType)
      graft.operators.Hilbert.layoutReport(
        t(s, dir, "orders").select(col("o_custkey").as("x"), day.as("y")))
        .orderBy("bucket")
    }),

    // Structured Streaming — watermarked tumbling-window daily counts,
    // driven synchronously; semantics equal the batch group-by oracle.
    // Native session_window streaming (gap = 6 h, zero-delay watermark,
    // append mode): the declarative sibling of q107's custom-state
    // sessionize. The oracle encodes the watermark-finalization rule
    // (emit sessions whose end ≤ max event time) — the contract an
    // unbounded deployment actually observes.
    "q161_stream_session_window" -> ((s, dir) => {
      StreamOps.sessionWindowsAvailableNow(s, dir, eventsSchema, gap = "6 hours",
          queryName = "stream_sess",
          globFilter = Some("events.parquet"))
        .orderBy("user_id", "sess_start")
    }),

    "q94_stream_window" -> ((s, dir) => {
      StreamOps.windowedCountsAvailableNow(s, dir, eventsSchema,
          queryName = "stream_counts",
          globFilter = Some("events.parquet"))
        .orderBy("day", "event_type")
    }),

    // Streaming exact dedup (dropDuplicatesWithinWatermark): the source
    // is streamed twice (duplicate-injecting transport), one survivor
    // per event_id; rolled up per type so the batch oracle is exact.
    // NOTE (oracle-equality precondition): the single `events.parquet`
    // globFilter makes AvailableNow process the whole source as ONE
    // micro-batch, so the 1-hour watermark (shorter than the data's
    // event-time span) never actually drops or splits anything and the
    // result equals the batch oracle exactly. With multiple files or
    // maxFilesPerTrigger, dedup could re-admit duplicates across batches
    // and the join could lose cross-batch pairs — the unbounded-stream
    // semantics, correct for production but not oracle-comparable.
    "q56_stream_dedup" -> ((s, dir) => {
      StreamOps.dedupAvailableNow(s, dir, eventsSchema, "event_id",
          queryName = "stream_dedup",
          globFilter = Some("events.parquet"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), min("event_id").as("min_id"),
          max("event_id").as("max_id"), countDistinct("user_id").as("n_users"))
        .orderBy("event_type")
    }),

    // Stream-stream time-bounded self-join: anchor events (id % 97) vs
    // same-user events in the preceding day, both sides watermarked;
    // AvailableNow result equals the batch join (the oracle) under the
    // same single-micro-batch precondition documented at q56.
    "q69_stream_join" -> ((s, dir) => {
      StreamOps.streamSelfJoinAvailableNow(s, dir, eventsSchema,
          anchorFilter = col("event_id") % 97 === 0, window = "1 DAY",
          queryName = "stream_join",
          globFilter = Some("events.parquet"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"), countDistinct("a_id").as("n_anchors"))
        .orderBy("user_id")
    }),

    // Stream-static enrichment: events stream joined per micro-batch to
    // a BROADCAST nation dimension (stateless — no state store), then
    // rolled up per nation. The streaming engine contributes source
    // tracking + triggers; the join is the enrich-on-ingest shape every
    // ingestion pipeline runs. Oracle = the batch join.
    "q177_stream_static_join" -> ((s, dir) => {
      val dim = t(s, dir, "nation")
        .select(col("n_nationkey").cast(LongType).as("n_nationkey"),
          col("n_name"))
      graft.streaming.StreamOps.streamStaticEnrichAvailableNow(s, dir, eventsSchema,
          keyExpr = pmod(col("user_id"), lit(25L)), dim = dim,
          dimKey = "n_nationkey",
          queryName = "stream_enrich",
          globFilter = Some("events.parquet"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n"), countDistinct("user_id").as("n_users"))
        .orderBy("n_name")
    }),

    // Custom-state sessionization (flatMapGroupsWithState) checked
    // against the SQL islands formulation: closed gap-based sessions per
    // user. The stateful operator leaves each user's last session open,
    // so the oracle drops the final island per user.
    "q107_sessionize" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.StreamOps
      val ev = t(s, dir, "events")
        .select(col("user_id"),
          graft.functions.BqShims.epochMicros(col("ts")).as("ts_micros"),
          col("event_type"))
        .as[StreamOps.SessionEvent]
      StreamOps.sessionizeBatch(s, ev, gapMicros = 86400L * 1000000L)
        .toDF()
        .orderBy("user_id", "session_start")
    }),

    // I4/I6 — reconciliation anti-join + snapshot-skip gates, surfaced as
    // a relational result: users with events but no "processed" record.
    "q95_reconciliation" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val processed = e.filter(col("event_id") % 97 === 0)
        .select(col("user_id")).distinct()
      Incremental.unprocessed(
          e.select("user_id").distinct(), processed, Seq("user_id"))
        .orderBy("user_id")
    }),

    // D6 at full scale — deploy the reference's entire SQL corpus
    // (80 tables, 16 routines, 64 views across 13 datasets) through
    // JinjaLite + Dialect + dependency-ordered registration, every view
    // analyzer-validated. Result = per-dataset inventory with deploy
    // success counts; the oracle pins the corpus's golden inventory and
    // n_ok = n_objects (zero failures).
    "q108_corpus_sweep" -> ((s, _) => {
      val root = corpusRoot
      // analyze-only sweep: stored-analyzed plans are safe here and 3x
      // faster (see CorpusLoader.deploy's contract); q109 executes and
      // therefore uses parsed plans
      val result = CorpusLoader.deploy(s, root, storeAnalyzed = true)
      CorpusLoader.sweepSummary(s, result).orderBy("dataset", "kind")
    }),

    // The corpus EXECUTION sweep: deploy with a deterministic 64-row
    // SyntheticRows fixture in every table stand-in, then run all 64
    // views end-to-end bottom-up (each materialized before its
    // consumers — see CorpusLoader.executeAll). Analysis proves the SQL
    // translates; this proves it RUNS: UDF bodies, ANSI casts, regexes,
    // JSON paths, date arithmetic all execute on real rows, and every
    // view must come back non-empty (the fixture's vocabularies are
    // tuned so each view's filters/joins keep rows). Oracle pins the
    // golden per-dataset outcome.
    "q109_corpus_exec" -> ((s, _) => {
      // fused deploy+materialize: each view executes the moment it
      // deploys, so analysis and execution are both O(views) — the
      // staged deploy-then-executeAll shape re-expands the upstream
      // parsed-view tree at every CREATE (O(views × chain)). Behind
      // the treehash short-circuit (deployAndExecuteCached): the first
      // sweep in a session pays deploy + execution, a re-run over the
      // byte-identical corpus costs one tree hash — the reference's
      // update_schema.py re-deploy behavior, and what a scheduler
      // re-running the sweep against an unchanged repo should pay
      // (invalidation is spec-pinned in CorpusCacheSpec).
      val (_, execs) = CorpusLoader.deployAndExecuteCached(s, corpusRoot,
        rowsPerTable = 64)
      CorpusLoader.execSummary(s, execs).orderBy("dataset")
    }),

    // S2 as an oracle row (r14 ask #5; Catalog2Spec keeps the
    // no-job-submitted property) — the dry-run validator over a fixed
    // battery of good/bad SQL against the real tables: parse errors,
    // unresolved columns/tables/functions, type errors, ambiguity.
    // Analysis-only both ways; the oracle pins the golden verdicts.
    "q310_dryrun_validate" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("q310_orders")
      val battery = Seq(
        (1L, "select_ok", "SELECT o_orderkey FROM q310_orders", true),
        (2L, "missing_column", "SELECT nope FROM q310_orders", false),
        (3L, "parse_error", "SELEC o_orderkey FRM q310_orders", false),
        (4L, "missing_table", "SELECT * FROM q310_no_such_table", false),
        (5L, "type_error",
          "SELECT array_contains(o_orderkey, 1) FROM q310_orders", false),
        (6L, "ambiguous_column",
          "SELECT o_orderkey FROM q310_orders a JOIN q310_orders b" +
            " ON a.o_orderkey = b.o_orderkey", false),
        (7L, "join_ok",
          "SELECT a.o_orderkey FROM q310_orders a JOIN q310_orders b" +
            " ON a.o_orderkey = b.o_orderkey", true),
        (8L, "missing_function",
          "SELECT graft_no_such_fn(o_orderkey) FROM q310_orders", false))
      import s.implicits._
      battery.map { case (id, label, sql, expectOk) =>
        val ok = graft.catalog.QueryValidation.validate(s, sql).isEmpty
        // a battery row whose live verdict drifts from the documented
        // one must fail the round loudly, not silently re-pin
        require(ok == expectOk, s"validator drift on '$label': got $ok")
        (id, label, ok)
      }.toDF("check_id", "label", "is_valid").orderBy("check_id")
    }),

    // D5 as an oracle row (r14 ask #5; OperatorsSpec keeps the
    // library-level coverage) — the write guard's three outcomes on a
    // real frame: whitelist DENIAL throws (caught → 'denied'), dry-run
    // logs without executing, live mode writes and the read-back count
    // must equal the source table's (the only non-literal oracle
    // column).
    "q311_write_guard" -> ((s, dir) => {
      import graft.catalog.{SchemaId, WriteDeniedException, WriteGuard}
      val nation = t(s, dir, "nation")
      def attempt(g: WriteGuard, target: String,
          path: String): (String, java.lang.Long) =
        try {
          if (g.writeTable(nation, SchemaId("p", "d", target), path,
              SaveMode.Overwrite))
            ("written", Long.box(s.read.parquet(path).count()))
          else ("dry_run", null)
        } catch {
          case _: WriteDeniedException => ("denied", null)
        }
      val dry = WriteGuard(write = false,
        writeTargets = Some(Set("t_ok")), log = _ => ())
      val live = WriteGuard(write = true,
        writeTargets = Some(Set("t_ok")), log = _ => ())
      val out = Scratch.fresh(s"wguard|$dir")
      val rows = Seq(
        (1L, "t_ok") -> attempt(dry, "t_ok", s"$out/a1"),
        (2L, "t_secret") -> attempt(dry, "t_secret", s"$out/a2"),
        (3L, "t_ok") -> attempt(live, "t_ok", s"$out/a3"),
        (4L, "t_secret") -> attempt(live, "t_secret", s"$out/a4"))
      // dry-run must leave no file behind; the denied live write too
      require(!new java.io.File(s"$out/a1").exists(), "dry-run wrote")
      require(!new java.io.File(s"$out/a4").exists(), "denied write ran")
      require(dry.dryRunLog.size == 1, s"dry-run log: ${dry.dryRunLog}")
      import s.implicits._
      rows.map { case ((id, target), (outcome, n)) =>
        (id, target, outcome, n)
      }.toDF("attempt", "target", "outcome", "n_rows").orderBy("attempt")
    }),

    // I2 as an oracle row (r14 ask #5; DiffPatchSpec's 500-sample
    // property + HistoricStatesSpec keep the library-level coverage) —
    // per-bug historic-state reconstruction on a fixed two-bug history:
    // status un-apply, keyword add/remove reversal, consecutive-
    // duplicate change dedup, and a unified-diff REVERSE apply on the
    // user story (metric_changes.py:183-225 semantics). The oracle pins
    // the hand-derived golden states.
    "q312_historic_states" -> ((s, _) => {
      import graft.operators.HistoricStates._
      import s.implicits._
      val histories = Seq(
        BugHistory(1L,
          BugState("RESOLVED", "Core", "DOM", Seq("kw_a", "kw_b"),
            "https://x.example/a", ""),
          Seq(
            BugChange("2024-01-05T00:00:00Z",
              Seq(FieldChange("status", "NEW", "ASSIGNED"))),
            BugChange("2024-01-08T00:00:00Z",
              Seq(FieldChange("keywords", "kw_old", "kw_b"))),
            // consecutive duplicate of the same change set: must dedup
            BugChange("2024-01-09T00:00:00Z",
              Seq(FieldChange("keywords", "kw_old", "kw_b"))),
            BugChange("2024-01-12T00:00:00Z",
              Seq(FieldChange("status", "ASSIGNED", "RESOLVED"))))),
        BugHistory(2L,
          BugState("NEW", "Web", "Site", Seq.empty, "https://x.example/b",
            "platform:windows\nimpact:high"),
          Seq(
            BugChange("2024-02-01T00:00:00Z",
              Seq(FieldChange("cf_user_story", "",
                "@@ -1,2 +1,2 @@\n-platform:linux\n+platform:windows\n impact:high"))))))
      historicStates(histories.toDS())
        .flatMap(b => b.states.zipWithIndex.map { case (st, i) =>
          (b.number, i.toLong, st.status, st.product, st.component,
            st.keywords.mkString(","), st.url, st.userStory)
        })
        .toDF("number", "state_idx", "status", "product", "component",
          "keywords", "url", "user_story")
        .orderBy("number", "state_idx")
    }),

    // I5 as an oracle row (r14 ask #5; OperatorsSpec keeps the
    // library-level coverage) — the row-count-stability ingest gate
    // (siterank.py:296-358: import only when the upstream count matches
    // the previous observation) applied down a real daily series: each
    // day's import gates on equality with the prior day's count. The
    // oracle recomputes the gate with LAG — a REAL recomputation, not a
    // golden pin.
    "q313_stable_count_gate" -> ((s, dir) => {
      val days = t(s, dir, "events")
        .groupBy(col("ts").cast(DateType).as("day"))
        .agg(count(lit(1)).as("n"))
        .orderBy("day")
        .collect().map(r => (r.getDate(0), r.getLong(1))).toSeq
      // bounded driver fold: one row per day (~30), the same shape the
      // reference's gate runs in (a scalar check before each import)
      val gated = days.zipWithIndex.map { case ((day, n), i) =>
        val prev = if (i == 0) None else Some(days(i - 1)._2)
        (day, n, Incremental.stableCountGate(n, prev))
      }
      import s.implicits._
      gated.toDF("day", "n", "gate_pass").orderBy("day")
    })
  )

  val oracles: Map[String, String] = Map(
    // golden verdicts of the validation battery (engine-side `require`
    // turns any drift into a hard failure, so this pin cannot rot
    // silently)
    "q310_dryrun_validate" ->
      """SELECT CAST(check_id AS BIGINT) AS check_id, label, is_valid
        |FROM (VALUES
        |  (1, 'select_ok', TRUE),
        |  (2, 'missing_column', FALSE),
        |  (3, 'parse_error', FALSE),
        |  (4, 'missing_table', FALSE),
        |  (5, 'type_error', FALSE),
        |  (6, 'ambiguous_column', FALSE),
        |  (7, 'join_ok', TRUE),
        |  (8, 'missing_function', FALSE)) t(check_id, label, is_valid)
        |ORDER BY check_id""".stripMargin,
    // three guard outcomes; the written row count is recomputed from
    // the source table, not pinned
    "q311_write_guard" ->
      """SELECT CAST(attempt AS BIGINT) AS attempt, target, outcome,
        |  CAST(n_rows AS BIGINT) AS n_rows
        |FROM (VALUES
        |  (1, 't_ok', 'dry_run', NULL),
        |  (2, 't_secret', 'denied', NULL),
        |  (3, 't_ok', 'written', (SELECT COUNT(*) FROM nation)),
        |  (4, 't_secret', 'denied', NULL)) t(attempt, target, outcome, n_rows)
        |ORDER BY attempt""".stripMargin,
    // hand-derived golden states: status un-apply, keyword reversal,
    // duplicate-change dedup (4 states from 4 changes), diff reverse
    "q312_historic_states" ->
      """SELECT CAST(number AS BIGINT) AS number,
        |  CAST(state_idx AS BIGINT) AS state_idx,
        |  status, product, component, keywords, url, user_story
        |FROM (VALUES
        |  (1, 0, 'RESOLVED', 'Core', 'DOM', 'kw_a,kw_b', 'https://x.example/a', ''),
        |  (1, 1, 'ASSIGNED', 'Core', 'DOM', 'kw_a,kw_b', 'https://x.example/a', ''),
        |  (1, 2, 'ASSIGNED', 'Core', 'DOM', 'kw_a,kw_old', 'https://x.example/a', ''),
        |  (1, 3, 'NEW', 'Core', 'DOM', 'kw_a,kw_old', 'https://x.example/a', ''),
        |  (2, 0, 'NEW', 'Web', 'Site', '', 'https://x.example/b',
        |    'platform:windows' || chr(10) || 'impact:high'),
        |  (2, 1, 'NEW', 'Web', 'Site', '', 'https://x.example/b',
        |    'platform:linux' || chr(10) || 'impact:high'))
        |  t(number, state_idx, status, product, component, keywords, url, user_story)
        |ORDER BY number, state_idx""".stripMargin,
    // REAL recomputation of the stability gate: equality with LAG,
    // first day fails closed (no prior observation)
    "q313_stable_count_gate" ->
      """SELECT day, n, COALESCE(n = LAG(n) OVER (ORDER BY day), FALSE) AS gate_pass
        |FROM (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*)::BIGINT AS n
        |  FROM events GROUP BY 1)
        |ORDER BY day""".stripMargin,
    "q90_view_dag" ->
      """SELECT c_mktsegment, COUNT(*) AS n_big FROM (
        |  SELECT c.c_custkey, c.c_mktsegment, o.total
        |  FROM customer c
        |  JOIN (SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |        FROM orders GROUP BY o_custkey) o ON o.o_custkey = c.c_custkey)
        |WHERE total > 150000 GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q91_dml_rewrite" ->
      """SELECT c_custkey, c_mktsegment,
        |  CASE WHEN c_mktsegment = 'BUILDING' AND bump IS NOT NULL
        |       THEN c_acctbal + bump ELSE c_acctbal END AS c_acctbal
        |FROM customer
        |LEFT JOIN (SELECT o_custkey AS k, CAST(COUNT(*) AS DOUBLE) * 10 AS bump
        |           FROM orders GROUP BY o_custkey) b ON b.k = c_custkey
        |WHERE c_mktsegment != 'AUTOMOBILE'
        |ORDER BY c_custkey""".stripMargin,
    "q92_incremental_rollup" ->
      """SELECT day, event_type, COUNT(*) AS n
        |FROM (SELECT CAST(ts AS DATE) AS day, event_type FROM events)
        |WHERE day <= DATE '2024-01-29'
        |GROUP BY day, event_type ORDER BY day, event_type""".stripMargin,
    "q93_closure" ->
      """WITH RECURSIVE ranked AS (
        |  SELECT n_nationkey, n_regionkey,
        |    row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS rk
        |  FROM nation),
        |edges AS (
        |  SELECT a.n_nationkey AS src, b.n_nationkey AS dst
        |  FROM ranked a JOIN ranked b
        |    ON a.n_regionkey = b.n_regionkey AND b.rk = a.rk + 1),
        |closure AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT c.src, e.dst FROM closure c JOIN edges e ON c.dst = e.src)
        |SELECT src, dst FROM closure ORDER BY src, dst""".stripMargin,
    "q161_stream_session_window" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsm FROM events),
        |mx AS (SELECT MAX(tsm) AS wm FROM e),
        |d AS (
        |  SELECT user_id, tsm,
        |    CASE WHEN lag(tsm) OVER w IS NULL
        |      OR tsm - lag(tsm) OVER w >= 21600000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsm)),
        |g AS (
        |  SELECT user_id, tsm, SUM(brk) OVER (
        |    PARTITION BY user_id ORDER BY tsm
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM d),
        |sess AS (
        |  SELECT user_id, MIN(tsm) AS sess_start,
        |    MAX(tsm) + 21600000000 AS sess_end, COUNT(*) AS n
        |  FROM g GROUP BY user_id, sid)
        |SELECT user_id, sess_start, sess_end, n
        |FROM sess, mx WHERE sess_end <= mx.wm
        |ORDER BY user_id, sess_start""".stripMargin,
    "q94_stream_window" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "q135_shortest_path" -> {
      val pairSql =
        """SELECT o_custkey AS src, l_suppkey + 10000000 AS dst,
          |  CAST(MIN(l_quantity) AS BIGINT) AS w
          |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          |GROUP BY 1, 2""".stripMargin
      val edgesSql =
        s"SELECT src, dst, w FROM ($pairSql)\n" +
          s"UNION ALL SELECT dst, src, w FROM ($pairSql)"
      graft.operators.ShortestPath.unrolledSql(edgesSql,
        "SELECT DISTINCT o_custkey AS id FROM orders WHERE o_custkey % 400 = 0",
        rounds = 4) +
        """
          |SELECT id AS node_id, dist
          |FROM d4 ORDER BY dist, node_id LIMIT 50""".stripMargin
    },
    "q180_kcore" -> {
      val pairSql =
        """SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
          |FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin
      val edgesSql =
        s"SELECT src, dst FROM ($pairSql)\n" +
          s"UNION ALL SELECT dst, src FROM ($pairSql)"
      graft.operators.KCore.unrolledSql(edgesSql, k = 10, rounds = 3)
        .replace("SELECT id, deg FROM d3 WHERE deg >= 10",
          "SELECT id AS node_id, deg FROM d3 WHERE deg >= 10 ORDER BY node_id")
    },
    "q129_cdc_apply" ->
      """WITH snap AS (
        |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |    o_orderstatus AS status
        |  FROM orders WHERE o_orderkey % 3 <> 0),
        |ch AS (
        |  SELECT o_orderkey AS k, o_orderkey % 7 AS seq, 'U' AS op,
        |    CAST(o_totalprice AS DECIMAL(18,2)) + 10 AS price,
        |    o_orderpriority AS status
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderkey % 11, 'D', NULL, NULL
        |  FROM orders WHERE o_orderkey % 5 = 0),
        |latest AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY k ORDER BY seq DESC, op DESC) AS rn
        |    FROM ch) WHERE rn = 1),
        |final AS (
        |  SELECT s.k, s.price, s.status, FALSE AS from_change
        |  FROM snap s LEFT JOIN latest l ON s.k = l.k WHERE l.k IS NULL
        |  UNION ALL
        |  SELECT k, price, status, TRUE FROM latest WHERE op <> 'D')
        |SELECT status, COUNT(*) AS n, CAST(SUM(price) AS DOUBLE) AS sum_price,
        |  CAST(SUM(k) AS BIGINT) AS sum_key,
        |  CAST(COUNT(*) FILTER (WHERE from_change) AS BIGINT) AS n_changed
        |FROM final GROUP BY status ORDER BY status""".stripMargin,
    // closed form: depth(k) = bitlength(k) − 1 for parent = k div 2
    "q240_hierarchy_flatten" ->
      """SELECT CAST(length(bin(o_orderkey + 1)) - 1 AS BIGINT) AS depth,
        |  COUNT(*)::BIGINT AS n,
        |  CAST(SUM(o_orderkey + 1) AS BIGINT) AS id_sum,
        |  CAST(0 AS BIGINT) AS n_bad_root
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // recomputed from RAW facts — the rollup chain must lose nothing
    "q235_agg_navigator" ->
      """SELECT event_type,
        |  CAST(date_trunc('month', CAST(ts AS DATE)) AS DATE) AS month,
        |  COUNT(*)::BIGINT AS n,
        |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the FULL join — the incremental path must lose nothing
    "q226_ivm_join" ->
      """SELECT c_mktsegment, COUNT(*)::BIGINT AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the FULL apply-then-aggregate recompute (q129 semantics)
    "q227_ivm_agg" ->
      """WITH snap AS (
        |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |    o_orderstatus AS status
        |  FROM orders WHERE o_orderkey % 3 <> 0),
        |ch AS (
        |  SELECT o_orderkey AS k, o_orderkey % 7 AS seq, 'U' AS op,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 10
        |      AS DECIMAL(18,2)) AS price,
        |    o_orderpriority AS status
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderkey % 11, 'D', NULL, NULL
        |  FROM orders WHERE o_orderkey % 5 = 0),
        |latest AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY k ORDER BY seq DESC, op DESC) AS rn
        |    FROM ch) WHERE rn = 1),
        |final AS (
        |  SELECT s.k, s.price, s.status
        |  FROM snap s LEFT JOIN latest l ON s.k = l.k WHERE l.k IS NULL
        |  UNION ALL
        |  SELECT k, price, status FROM latest WHERE op <> 'D')
        |SELECT status, COUNT(*)::BIGINT AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total
        |FROM final GROUP BY 1 ORDER BY 1""".stripMargin,
    // the same two evaluation strategies replayed: word bitmaps via
    // bit_or/bit_count, and the direct predicate count
    "q205_bitmap_index" ->
      """WITH o AS (
        |  SELECT o_orderkey AS rid, o_orderstatus AS status,
        |    o_orderpriority AS prio
        |  FROM orders),
        |f AS (
        |  SELECT rid // 63 AS word,
        |    bit_or(CAST(1 AS BIGINT) << CAST(rid % 63 AS INTEGER)) AS b1
        |  FROM o WHERE status = 'F' GROUP BY 1),
        |u AS (
        |  SELECT rid // 63 AS word,
        |    bit_or(CAST(1 AS BIGINT) << CAST(rid % 63 AS INTEGER)) AS b2
        |  FROM o WHERE prio = '1-URGENT' GROUP BY 1),
        |j AS (
        |  SELECT CAST(COALESCE(SUM(bit_count(b1 & b2)), 0) AS BIGINT)
        |    AS n_match,
        |    COUNT(*)::BIGINT AS n_words_joined
        |  FROM f JOIN u USING (word)),
        |d AS (
        |  SELECT COUNT(*)::BIGINT AS n_direct FROM o
        |  WHERE status = 'F' AND prio = '1-URGENT')
        |SELECT j.n_match, j.n_words_joined, d.n_direct,
        |  j.n_match = d.n_direct AS agree
        |FROM j, d""".stripMargin,
    // the same diff as a FULL OUTER JOIN; IS NOT DISTINCT FROM is the
    // null-safe struct comparison
    "q204_cdc_capture" ->
      """WITH oldS AS (
        |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |    o_orderstatus AS status
        |  FROM orders WHERE o_orderkey % 5 <> 0),
        |newS AS (
        |  SELECT o_orderkey AS k,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) +
        |      CASE WHEN o_orderkey % 3 = 0 THEN 5 ELSE 0 END
        |      AS DECIMAL(18,2)) AS price,
        |    o_orderstatus AS status
        |  FROM orders WHERE o_orderkey % 7 <> 3)
        |SELECT COALESCE(n.k, o.k) AS k,
        |  CASE WHEN o.k IS NULL THEN 'I'
        |       WHEN n.k IS NULL THEN 'D'
        |       WHEN NOT ((o.price, o.status) IS NOT DISTINCT FROM
        |                 (n.price, n.status)) THEN 'U' END AS op,
        |  CAST(n.price AS DOUBLE) AS price, n.status
        |FROM oldS o FULL OUTER JOIN newS n ON o.k = n.k
        |WHERE (CASE WHEN o.k IS NULL THEN 'I'
        |       WHEN n.k IS NULL THEN 'D'
        |       WHEN NOT ((o.price, o.status) IS NOT DISTINCT FROM
        |                 (n.price, n.status)) THEN 'U' END) IS NOT NULL
        |ORDER BY k""".stripMargin,
    // independent implementation: the naive GLOBAL lag window (the
    // engine counts runs chunk-locally + boundary stitch)
    "q201_encoding_stats" ->
      """WITH base AS (
        |  SELECT l_orderkey AS ok, l_linenumber AS ln,
        |    l_returnflag AS returnflag, l_linestatus AS linestatus,
        |    CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) AS quantity,
        |    CAST(month(l_shipdate) AS VARCHAR) AS shipmonth
        |  FROM lineitem),
        |lng AS (
        |  SELECT ok, ln, 'returnflag' AS colname, returnflag AS val FROM base
        |  UNION ALL SELECT ok, ln, 'linestatus', linestatus FROM base
        |  UNION ALL SELECT ok, ln, 'quantity', quantity FROM base
        |  UNION ALL SELECT ok, ln, 'shipmonth', shipmonth FROM base),
        |lagged AS (
        |  SELECT colname, val, lag(val) OVER
        |    (PARTITION BY colname ORDER BY ok, ln, val) AS pv
        |  FROM lng),
        |runs AS (
        |  SELECT colname, COUNT(*)::BIGINT AS n,
        |    CAST(COUNT(*) - SUM(CASE WHEN val = pv THEN 1 ELSE 0 END)
        |      AS BIGINT) AS runs,
        |    CAST(COUNT(DISTINCT val) AS BIGINT) AS n_distinct
        |  FROM lagged GROUP BY 1)
        |SELECT colname, n, n_distinct, runs,
        |  CAST(length(bin(n_distinct - 1)) AS BIGINT) AS w_bits,
        |  (n * length(bin(n_distinct - 1)) + n_distinct * 40) <
        |    (runs * (length(bin(n_distinct - 1)) + 32)) AS dict_better
        |FROM runs ORDER BY colname""".stripMargin,
    // the batch MERGE fold published row-for-row — the streaming fold
    // must reproduce it exactly despite the 4-file chop
    "q199_stream_cdc_upsert" ->
      """WITH snap AS (
        |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |    o_orderstatus AS status
        |  FROM orders WHERE o_orderkey % 3 <> 0),
        |ch AS (
        |  SELECT o_orderkey AS k, o_orderkey % 7 AS seq, 'U' AS op,
        |    CAST(o_totalprice AS DECIMAL(18,2)) + 10 AS price,
        |    o_orderpriority AS status
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderkey % 11, 'D', NULL, NULL
        |  FROM orders WHERE o_orderkey % 5 = 0),
        |latest AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY k ORDER BY seq DESC, op DESC) AS rn
        |    FROM ch) WHERE rn = 1)
        |SELECT s.k, CAST(s.price AS DOUBLE) AS price, s.status,
        |  FALSE AS from_change
        |FROM snap s LEFT JOIN latest l ON s.k = l.k WHERE l.k IS NULL
        |UNION ALL
        |SELECT k, CAST(price AS DOUBLE), status, TRUE
        |FROM latest WHERE op <> 'D'
        |ORDER BY k""".stripMargin,
    "q153_triangle_count" ->
      """WITH ol AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
        |  FROM lineitem WHERE l_orderkey % 7 = 0),
        |e AS (
        |  SELECT DISTINCT a.sk AS u, b.sk AS v
        |  FROM ol a JOIN ol b ON a.ok = b.ok AND a.sk < b.sk),
        |deg AS (
        |  SELECT id, COUNT(*) AS d FROM (
        |    SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e)
        |  GROUP BY 1),
        |tri AS (
        |  SELECT COUNT(*) AS t FROM e e1
        |  JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT
        |  (SELECT COUNT(*) FROM deg)::BIGINT AS n_nodes,
        |  (SELECT COUNT(*) FROM e)::BIGINT AS n_edges,
        |  (SELECT SUM(d * (d - 1) // 2) FROM deg)::BIGINT AS n_wedges,
        |  (SELECT t FROM tri)::BIGINT AS n_triangles,
        |  CAST((SELECT t FROM tri) AS DOUBLE) * 3.0 /
        |    CAST((SELECT SUM(d * (d - 1) // 2) FROM deg) AS DOUBLE)
        |    AS global_cc""".stripMargin,
    "q128_pagerank" -> {
      val edgesSql =
        """SELECT o_custkey AS src, l_suppkey + 10000000 AS dst
          |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          |UNION
          |SELECT l_suppkey + 10000000 AS src, o_custkey AS dst
          |FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin
      graft.operators.PageRank.unrolledSql(edgesSql, iters = 3) +
        """
          |SELECT id AS node_id, CAST(r AS BIGINT) AS pr,
          |  id >= 10000000 AS is_supplier
          |FROM r3 ORDER BY pr DESC, node_id LIMIT 25""".stripMargin
    },
    "q127_scd2_build" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tsm, event_id,
        |    event_type AS segment
        |  FROM events),
        |c AS (
        |  SELECT *, lag(segment) OVER
        |    (PARTITION BY user_id ORDER BY tsm, event_id) AS prev
        |  FROM e),
        |v AS (SELECT user_id, segment, tsm, event_id FROM c
        |      WHERE prev IS NULL OR prev <> segment)
        |SELECT user_id, segment, tsm AS valid_from,
        |  lead(tsm) OVER w AS valid_to,
        |  lead(tsm) OVER w IS NULL AS is_current,
        |  row_number() OVER w AS version
        |FROM v
        |WINDOW w AS (PARTITION BY user_id ORDER BY tsm, event_id)
        |ORDER BY user_id, version""".stripMargin,
    // same episodes, open ones closed at the corpus high-watermark
    "q236_dwell_time" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tsm, event_id,
        |    event_type AS segment
        |  FROM events),
        |hw AS (SELECT MAX(tsm) AS hw FROM e),
        |c AS (
        |  SELECT *, lag(segment) OVER
        |    (PARTITION BY user_id ORDER BY tsm, event_id) AS prev
        |  FROM e),
        |v AS (SELECT user_id, segment, tsm, event_id FROM c
        |      WHERE prev IS NULL OR prev <> segment),
        |scd AS (
        |  SELECT user_id, segment, tsm AS valid_from,
        |    lead(tsm) OVER (PARTITION BY user_id ORDER BY tsm, event_id)
        |      AS valid_to
        |  FROM v)
        |SELECT segment, COUNT(*)::BIGINT AS n_episodes,
        |  CAST(SUM(COALESCE(valid_to, hw.hw) - valid_from) AS BIGINT)
        |    AS total_dwell_us,
        |  CAST(MAX(COALESCE(valid_to, hw.hw) - valid_from) AS BIGINT)
        |    AS max_dwell_us
        |FROM scd, hw GROUP BY 1 ORDER BY 1""".stripMargin,
    // q127's episode build + the covering-interval filter at T
    "q198_asof_snapshot" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tsm, event_id,
        |    event_type AS segment
        |  FROM events),
        |c AS (
        |  SELECT *, lag(segment) OVER
        |    (PARTITION BY user_id ORDER BY tsm, event_id) AS prev
        |  FROM e),
        |v AS (SELECT user_id, segment, tsm, event_id FROM c
        |      WHERE prev IS NULL OR prev <> segment),
        |scd AS (
        |  SELECT user_id, segment, tsm AS valid_from,
        |    lead(tsm) OVER w AS valid_to,
        |    row_number() OVER w AS version
        |  FROM v
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tsm, event_id))
        |SELECT user_id, segment, valid_from, CAST(version AS BIGINT) AS version
        |FROM scd
        |WHERE valid_from <= 1705363200000000
        |  AND (valid_to IS NULL OR valid_to > 1705363200000000)
        |ORDER BY user_id""".stripMargin,
    "q130_hilbert_layout" ->
      s"""WITH d AS (
        |  SELECT o_custkey AS x,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS y
        |  FROM orders),
        |mm AS (
        |  SELECT MIN(x) AS xmin, MAX(x) AS xmax, MIN(y) AS ymin, MAX(y) AS ymax
        |  FROM d),
        |g AS (
        |  SELECT x, y,
        |    CAST(floor(CAST(x - xmin AS DOUBLE) * 65535.0 /
        |      greatest(CAST(xmax - xmin AS DOUBLE), 1.0)) AS BIGINT) AS gx,
        |    CAST(floor(CAST(y - ymin AS DOUBLE) * 65535.0 /
        |      greatest(CAST(ymax - ymin AS DOUBLE), 1.0)) AS BIGINT) AS gy
        |  FROM d, mm),
        |${graft.operators.Hilbert.hilbertSql(
           "SELECT x, y, gx AS hx, gy AS hy, CAST(0 AS BIGINT) AS h FROM g",
           Seq("x", "y"))}
        |SELECT h >> 22 AS bucket, COUNT(*) AS n_rows,
        |  MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
        |FROM h0 GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q126_zorder_layout" ->
      s"""WITH d AS (
        |  SELECT o_custkey AS x,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS y
        |  FROM orders),
        |mm AS (
        |  SELECT MIN(x) AS xmin, MAX(x) AS xmax, MIN(y) AS ymin, MAX(y) AS ymax
        |  FROM d),
        |g AS (
        |  SELECT x, y,
        |    CAST(floor(CAST(x - xmin AS DOUBLE) * 65535.0 /
        |      greatest(CAST(xmax - xmin AS DOUBLE), 1.0)) AS BIGINT) AS gx,
        |    CAST(floor(CAST(y - ymin AS DOUBLE) * 65535.0 /
        |      greatest(CAST(ymax - ymin AS DOUBLE), 1.0)) AS BIGINT) AS gy
        |  FROM d, mm),
        |z AS (SELECT x, y, ${graft.operators.ZOrder.interleaveSql("gx", "gy")} AS z FROM g)
        |SELECT z >> 22 AS bucket, COUNT(*) AS n_rows,
        |  MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
        |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q177_stream_static_join" ->
      """SELECT n.n_name, COUNT(*)::BIGINT AS n,
        |  COUNT(DISTINCT e.user_id)::BIGINT AS n_users
        |FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q265_bitemporal_asof" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS vf,
        |    o_totalprice AS price0, o_orderstatus AS status0
        |  FROM orders),
        |v AS (
        |  SELECT k, 1 AS version, vf AS tx, vf,
        |    CAST(vf + INTERVAL 30 DAY AS DATE) AS vt,
        |    price0 AS price, status0 AS status
        |  FROM o
        |  UNION ALL
        |  SELECT k, 2, CAST(vf + INTERVAL 10 DAY AS DATE), vf,
        |    CAST(vf + INTERVAL 45 DAY AS DATE), price0 + 5.0, 'corrected'
        |  FROM o WHERE k % 4 = 0),
        |vis AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY k ORDER BY tx DESC, version DESC) AS rn
        |    FROM v WHERE tx <= DATE '1996-06-01') WHERE rn = 1)
        |SELECT k, CAST(version AS BIGINT) AS version, vf, vt, price, status
        |FROM vis
        |WHERE vf <= DATE '1996-06-10' AND DATE '1996-06-10' < vt
        |ORDER BY k""".stripMargin,
    "q258_stream_left_outer" ->
      """WITH a AS (
        |  SELECT event_id AS a_id, user_id, ts AS a_ts
        |  FROM events WHERE event_type = 'purchase'),
        |b AS (
        |  SELECT event_id AS b_id, user_id AS b_user, ts AS b_ts
        |  FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT a.user_id, a.a_id, b.b_id
        |  FROM a LEFT JOIN b ON a.user_id = b.b_user
        |   AND b.b_ts BETWEEN a.a_ts - INTERVAL 1 DAY AND a.a_ts)
        |SELECT user_id,
        |  CAST(COUNT(DISTINCT a_id) AS BIGINT) AS n_anchors,
        |  COUNT(b_id) AS n_matched,
        |  CAST(SUM(CASE WHEN b_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unmatched
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q69_stream_join" ->
      """WITH a AS (
        |  SELECT event_id AS a_id, user_id, ts AS a_ts
        |  FROM events WHERE event_id % 97 = 0),
        |b AS (SELECT event_id AS b_id, user_id, ts AS b_ts FROM events),
        |j AS (
        |  SELECT a.user_id, a.a_id, b.b_id
        |  FROM a JOIN b ON a.user_id = b.user_id AND a.a_id != b.b_id
        |   AND b.b_ts BETWEEN a.a_ts - INTERVAL 1 DAY AND a.a_ts)
        |SELECT user_id, COUNT(*) AS n_pairs,
        |  CAST(COUNT(DISTINCT a_id) AS BIGINT) AS n_anchors
        |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q56_stream_dedup" ->
      """SELECT event_type, COUNT(*) AS n, MIN(event_id) AS min_id,
        |  MAX(event_id) AS max_id,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q107_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsm, event_type FROM events),
        |m AS (
        |  SELECT user_id, tsm,
        |    CASE WHEN lag(tsm) OVER w IS NULL
        |           OR tsm - lag(tsm) OVER w > 86400000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsm)),
        |s AS (
        |  SELECT user_id, tsm,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY tsm
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |sess AS (
        |  SELECT user_id, sid, MIN(tsm) AS session_start, MAX(tsm) AS session_end,
        |    COUNT(*) AS n_events
        |  FROM s GROUP BY 1, 2)
        |SELECT user_id, session_start, session_end, n_events
        |FROM sess
        |QUALIFY sid < MAX(sid) OVER (PARTITION BY user_id)
        |ORDER BY user_id, session_start""".stripMargin,
    "q95_reconciliation" ->
      """SELECT DISTINCT user_id FROM events
        |WHERE user_id NOT IN (SELECT DISTINCT user_id FROM events WHERE event_id % 97 = 0)
        |ORDER BY user_id""".stripMargin,
    // Golden inventory of /root/reference/jobs/webcompat-kb/data/sql —
    // fixed corpus content, so the expected counts are literals; n_ok
    // must equal n_objects (a deploy/analysis failure breaks the match).
    "q108_corpus_sweep" ->
      """SELECT dataset, kind, n_objects::BIGINT AS n_objects, n_ok::BIGINT AS n_ok
        |FROM (VALUES
        |  ('autowebcompat', 'table', 3, 3),
        |  ('autowebcompat', 'view', 1, 1),
        |  ('chrome_use_counters', 'table', 2, 2),
        |  ('crux_imported', 'table', 4, 4),
        |  ('interop', 'table', 2, 2),
        |  ('interventions', 'table', 3, 3),
        |  ('metadata', 'table', 1, 1),
        |  ('standards_positions', 'table', 3, 3),
        |  ('tranco_imported', 'table', 1, 1),
        |  ('web_features', 'table', 7, 7),
        |  ('web_features', 'view', 1, 1),
        |  ('webcompat_knowledge_base', 'routine', 13, 13),
        |  ('webcompat_knowledge_base', 'table', 53, 53),
        |  ('webcompat_knowledge_base', 'view', 57, 57),
        |  ('webcompat_knowledge_base_archive', 'routine', 3, 3),
        |  ('webcompat_knowledge_base_archive', 'view', 2, 2),
        |  ('webcompat_risks', 'view', 1, 1),
        |  ('webcompat_user_reports', 'table', 1, 1),
        |  ('webcompat_user_reports', 'view', 2, 2)
        |) AS t(dataset, kind, n_objects, n_ok)
        |ORDER BY dataset, kind""".stripMargin,
    // Golden execution outcome: every deployed view executes over the
    // 64-row fixture AND returns rows (n_views = n_exec_ok = n_nonempty).
    "q109_corpus_exec" ->
      """SELECT dataset, n_views::BIGINT AS n_views, n_exec_ok::BIGINT AS n_exec_ok,
        |       n_nonempty::BIGINT AS n_nonempty
        |FROM (VALUES
        |  ('autowebcompat', 1, 1, 1),
        |  ('web_features', 1, 1, 1),
        |  ('webcompat_knowledge_base', 57, 57, 57),
        |  ('webcompat_knowledge_base_archive', 2, 2, 2),
        |  ('webcompat_risks', 1, 1, 1),
        |  ('webcompat_user_reports', 2, 2, 2)
        |) AS t(dataset, n_views, n_exec_ok, n_nonempty)
        |ORDER BY dataset""".stripMargin
  )
}
