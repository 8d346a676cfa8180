package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Hold

/** Token-balanced shard assignment for training-data export.
  *
  * Hash sharding (q88's md5 route) balances ROW counts, but training
  * shards are consumed by token budget: a shard that drew the long
  * documents starves the others and the epoch's stragglers are decided
  * at export time. The classical fix is LPT greedy (longest job to the
  * least-loaded bin), but LPT is inherently sequential — a driver-side
  * loop over every document, exactly what a 100 TB export cannot do.
  *
  * This operator uses the relational approximation: sort documents by
  * token count DESCENDING and deal them BOUSTROPHEDON (serpentine)
  * across the `nShards` bins — rank r goes to shard r mod n on even
  * passes and n−1−(r mod n) on odd passes, so a bin that received a
  * large document in one pass receives a correspondingly small one in
  * the next. On sorted input each consecutive pass-pair hands every
  * bin one item from the "high" pass and the mirrored item from the
  * "low" pass, telescoping the imbalance; the resulting spread is
  * bounded by one inter-pass document gap in practice (spec-asserted
  * empirically on the fixture corpus, not just claimed). Deterministic
  * integer arithmetic end to end — identical on every engine.
  *
  * Scale: the only total order is a GLOBAL RANK, and a naive
  * `row_number() over (order by …)` would move the corpus to one
  * partition (Spark's single-partition Window). The rank here is
  * two-phase instead: `repartitionByRange` on the sort key (a range
  * exchange, the same cost class as any distributed sort), a
  * per-partition `row_number`, and a partition-count offset join (a
  * ≤-partitions-row broadcast). Rank values are invariant to where the
  * sampled range boundaries land because the (tokens, id) order is
  * total, so results stay deterministic while no single executor ever
  * holds more than its range.
  *
  * [[assign]] returns per-document rows (doc id, n_tok, shard);
  * [[audit]] folds them into the per-shard balance report.
  */
object ShardBalance {

  /** Distributed global rank + running total under a total order —
    * the two-phase range-exchange pattern described above, exposed for
    * every operator that needs a corpus-wide cumulative quantity
    * (serpentine sharding here; the token-budget quality cut in
    * q281). Adds to `df`:
    *   - `r`    0-based global rank under `order`
    *   - `cum`  INCLUSIVE global prefix sum of `n_tok`
    *   - `total` the grand total of `n_tok` (same value on every row —
    *     it falls out of the same ≤`nRangeParts`-row offsets fold, so
    *     callers that need "budget = fraction of total" get it without
    *     a second corpus pass)
    * `order` columns must make the order total (append a unique id) or
    * ranks are nondeterministic. The per-partition windows run inside
    * each range partition; the only unpartitioned window is the
    * offsets fold over ≤ `nRangeParts` rows, then the join back is a
    * broadcast. */
  def globalOrderStats(df: DataFrame, order: Seq[Column],
      nRangeParts: Int = 32): DataFrame = {
    // `ranged` feeds BOTH the offsets aggregate and the main ranked
    // frame. Those are two plan instances, and each range exchange
    // SAMPLES its input to pick boundaries — when `df` is itself a
    // multi-stage plan (e.g. chained globalNtile calls, or any input
    // behind a window/join), the two instances can sample different
    // boundaries and assign the SAME row different pids, silently
    // corrupting ranks near every boundary (caught by q221's chained
    // quintiles at sf0.1). The hold pins the partitioning once so both
    // consumers read identical (row, pid) pairs by construction.
    val ranged = Hold(df
      .repartitionByRange(nRangeParts, order: _*)
      .withColumn("pid", spark_partition_id()))
    val wPid = Window.partitionBy("pid").orderBy(order: _*)
    val tiny = Window.orderBy("pid")
    val offsets = ranged.groupBy("pid")
      .agg(count(lit(1)).as("cnt"), sum("n_tok").as("vsum"))
      .withColumn("off", coalesce(
        sum("cnt").over(tiny.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("voff", coalesce(
        sum("vsum").over(tiny.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("total", sum("vsum").over(
        tiny.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("pid"), col("off"), col("voff"), col("total"))
    ranged
      .withColumn("wrn", row_number().over(wPid).cast(LongType))
      .withColumn("wcum", sum("n_tok").over(
        wPid.rowsBetween(Window.unboundedPreceding, 0)))
      .join(broadcast(offsets), Seq("pid"))
      .withColumn("r", col("off") + col("wrn") - 1)
      .withColumn("cum", col("voff") + col("wcum"))
  }

  /** Distributed `ntile(k)` under a total `order` — standard SQL ntile
    * semantics (front-loaded buckets: with n = count and base = n/k,
    * rem = n%k, buckets 1..rem hold base+1 rows and the rest base) but
    * computed from [[globalOrderStats]]'s two-phase global rank instead
    * of an unpartitioned Window, so entity-sized frames (customers,
    * users) never collapse onto a single partition. Adds `outCol`
    * (LongType, 1..k); all rank plumbing columns are dropped. `order`
    * must be total (append a unique id) for determinism — same contract
    * as globalOrderStats. Exact integer arithmetic, engine-portable. */
  def globalNtile(df: DataFrame, order: Seq[Column], k: Int,
      outCol: String, nRangeParts: Int = 32): DataFrame = {
    require(k >= 1, s"ntile bucket count must be >= 1, got $k")
    val helper = Seq("n_tok", "pid", "wrn", "wcum", "off", "voff",
      "total", "cum", "r")
    val pre = df.columns.toSeq
    require(helper.forall(h => !pre.contains(h)),
      s"globalNtile helper columns collide with input: " +
        pre.filter(helper.contains).mkString(","))
    // n_tok=1 makes globalOrderStats's `total` the row count n
    val ranked = globalOrderStats(df.withColumn("n_tok", lit(1L)),
      order, nRangeParts)
    // Spark's `/` on longs is DOUBLE division (DuckDB's `//` has no
    // Column-API twin), so integer floor division is spelled exactly:
    // (a - a%b)/b divides two exact multiples — the double quotient is
    // exact for counts < 2^53, i.e. any row count that exists.
    def ldiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast(LongType)
    val n = col("total")
    val base = ldiv(n, lit(k.toLong)) // 0 iff n < k
    val rem = n % k
    val cut = rem * (base + lit(1L)) // ranks below this sit in +1 buckets
    ranked
      .withColumn(outCol,
        when(col("r") < cut, ldiv(col("r"), base + lit(1L)) + lit(1L))
          .otherwise(rem + ldiv(col("r") - cut,
            // base=0 only when n<k, where every rank is < cut (rem=n),
            // so the otherwise branch is never taken; greatest() keeps
            // the unevaluated expression safe under ANSI division
            greatest(base, lit(1L))) + lit(1L))
          .cast(LongType))
      .drop(helper: _*)
  }

  /** Distributed global rank (0-based) by (`tokCol` desc, `idCol`). */
  private def withGlobalRank(docs: DataFrame, idCol: String,
      nRangeParts: Int): DataFrame =
    globalOrderStats(docs, Seq(col("n_tok").desc, col(idCol)), nRangeParts)

  def assign(docs: DataFrame, idCol: String, tokCol: Column,
      nShards: Int, nRangeParts: Int = 32): DataFrame = {
    val base = docs.select(col(idCol), tokCol.cast(LongType).as("n_tok"))
    withGlobalRank(base, idCol, nRangeParts)
      .withColumn("pass", floor(col("r") / nShards).cast(LongType))
      .withColumn("pos", pmod(col("r"), lit(nShards)).cast(LongType))
      .withColumn("shard",
        when(pmod(col("pass"), lit(2)) === 0, col("pos"))
          .otherwise(lit(nShards - 1) - col("pos"))
        .cast(IntegerType))
      .select(col(idCol), col("n_tok"), col("shard"))
  }

  /** Per-shard totals + the global spread audit (max−min shard
    * tokens), the number the serpentine deal is meant to pin down.
    * Spread comes from an unpartitioned window over the PER-SHARD
    * frame — nShards rows by construction — so the audit reads the
    * corpus exactly once (an agg-then-crossJoin here would recompute
    * the whole assign pipeline for the second branch). */
  def audit(assigned: DataFrame): DataFrame = {
    val all = Window.partitionBy()
    assigned.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens"))
      .withColumn("spread",
        max("tokens").over(all) - min("tokens").over(all))
      .select(col("shard"), col("n_docs"), col("tokens"), col("spread"))
      .orderBy("shard")
  }
}
