package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Hold

/** Adversarial-skew probe (r12 ask #5): every bench table is uniform
  * TPC-H, so the 100 TB skew story ("AQE splits skewed joins, salting
  * handles the rest, the top-k aggregate absorbs hot groups map-side")
  * was asserted, never measured. This probe builds a deliberately
  * skewed key over the sf events table — ONE key holding ~50% of all
  * rows (`event_id % 2 = 0 → key 0`, else `user_id`) — and runs the
  * three skew-sensitive paths over BOTH the uniform and skewed layouts
  * at equal volume:
  *
  *   1. W1 dedup (rn = 1) through the WindowTopKRewrite aggregate
  *      (the rule GraftSession's extensions inject) —
  *      the hot group collapses MAP-SIDE (partial_topk keeps 1 row per
  *      key per task), so the exchange never sees the skew;
  *   2. grouped top-3, same mechanism (≤ 3 rows per key per task);
  *   3. fact⋈dim on the hot key: plain shuffle join under AQE (skew
  *      split) vs the explicit SkewSalt 8-way salted join.
  *
  * `main` prints min-of-2 warm timings (PERF_NOTES); [[planEvidence]]
  * returns the executed-plan excerpts (AQE `isSkew=true` partition
  * specs / salt fan-out shape) that DumpPlans embeds in PLANS.md.
  */
object SkewProbe {

  def skewed(events: DataFrame): DataFrame =
    events.withColumn("skey",
      when(pmod(col("event_id"), lit(2)) === 0, lit(0L)).otherwise(col("user_id")))

  def uniform(events: DataFrame): DataFrame =
    events.withColumn("skey", col("user_id"))

  def dedupTop1(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("skey")
      .orderBy(col("ts").desc, col("event_id"))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
  }

  def topK(df: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("skey")
      .orderBy(col("ts").desc, col("event_id"))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Key→count dim, held: a real dimension is
    * a stored table, and AQE's OptimizeSkewedJoin only pattern-matches
    * SMJ over raw shuffle stages — an aggregate subplan on the dim side
    * would veto the split for the fact side too. */
  def dim(df: DataFrame): DataFrame =
    Hold(df.groupBy("skey").agg(count(lit(1)).as("key_n")))

  def plainJoin(df: DataFrame, d: DataFrame): DataFrame =
    df.join(d, "skey")
      .groupBy(pmod(col("user_id"), lit(16)).as("b"))
      .agg(count(lit(1)).as("n"), sum("key_n").as("s"))

  def saltedJoin(df: DataFrame, d: DataFrame): DataFrame =
    graft.operators.SkewSalt.saltedJoin(
        df, d, key = "skey", factIdCols = Seq("event_id"), saltFactor = 8)
      .groupBy(pmod(col("user_id"), lit(16)).as("b"))
      .agg(count(lit(1)).as("n"), sum("key_n").as("s"))

  private def time(f: => Unit): Double = {
    val runs = (1 to 2).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    math.round(runs.min * 100) / 100.0
  }

  /** Deterministic ×`amp` volume amplification (event_id stays unique). */
  def amplify(events: DataFrame, amp: Int): DataFrame =
    events.withColumn("rep", explode(sequence(lit(0), lit(amp - 1))))
      .withColumn("event_id", col("event_id") * amp + col("rep"))
      .drop("rep")

  /** Executed-plan excerpts proving the skew mechanisms engaged. Runs
    * the skewed plain join (AQE skew split on the sort-merge join) and
    * the salted join; returns (aqeExcerpt, saltExcerpt). */
  def planEvidence(spark: SparkSession, sfDir: String): (String, String) = {
    val events = amplify(spark.read.parquet(s"$sfDir/events.parquet")
      .select("event_id", "user_id", "ts", "event_type"), 32)
    val sk = skewed(events)
    // disable broadcast so the join shuffles — the layout where skew
    // actually bites and AQE's OptimizeSkewedJoin can engage
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
    // the aggregate above the join would otherwise veto the split
    // (introducing an extra shuffle); force = accept that trade — the
    // exact call a 100 TB job would make for a 50%-hot key
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    try {
      val pj = plainJoin(sk, dim(sk))
      // collect() drives the Dataset's OWN QueryExecution, so its
      // AdaptiveSparkPlan is final and carries the skew decisions (a
      // .write.save() plans a separate QueryExecution and this one
      // would print pre-execution, skew-less)
      pj.collect()
      val aqe = pj.queryExecution.executedPlan.toString
      val aqeLines = aqe.linesIterator
        .filter(l => l.toLowerCase.contains("skew") ||
          l.contains("SortMergeJoin") || l.contains("AQEShuffleRead") ||
          l.contains("isFinalPlan"))
        .take(12).mkString("\n")
      val sj = saltedJoin(sk, dim(sk))
      val salt = sj.queryExecution.optimizedPlan.toString
      val saltLines = salt.linesIterator
        .filter(l => l.contains("Join") || l.contains("__salt") ||
          l.contains("explode") || l.contains("Generate"))
        .take(12).mkString("\n")
      (aqeLines, saltLines)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      spark.conf.unset("spark.sql.adaptive.forceOptimizeSkewedJoin")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.getOrCreate("ERROR", cpus = 32)
    // one scope over the probe: its holds are released before the stop
    Hold.scope {
      // amplify deterministically ×32 (~3.2M rows at sf0.1): the raw
      // events table is too small for skew to move any needle; the probe
      // is about the 100 TB mechanisms, not the fixture's absolute size
      val amp = sys.env.getOrElse("SPARK_GRAFT_SKEW_AMP", "32").toInt
      val events = Hold(amplify(spark.read.parquet(s"$sfDir/events.parquet")
        .select("event_id", "user_id", "ts", "event_type"), amp))
      println(s"rows=${events.count()}")
      val hot = skewed(events).filter(col("skey") === 0).count()
      println(s"hot-key share=${hot.toDouble / events.count()}")
      def sink(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val (uni, ske) = (uniform(events), skewed(events))
      val (dimU, dimS) = (dim(uni), dim(ske))
      for ((name, mk) <- Seq(
          "dedup_top1" -> ((d: DataFrame, _: DataFrame) => dedupTop1(d)),
          "topk3" -> ((d: DataFrame, _: DataFrame) => topK(d, 3)),
          "plain_join_aqe" -> ((d: DataFrame, dm: DataFrame) => plainJoin(d, dm)),
          "salted_join" -> ((d: DataFrame, dm: DataFrame) => saltedJoin(d, dm)))) {
        val tu = time(sink(mk(uni, dimU)))
        val ts = time(sink(mk(ske, dimS)))
        println(f"$name%-16s uniform=$tu%6.2fs skewed=$ts%6.2fs ratio=${ts / tu}%4.2f")
      }
      // the join measurements above broadcast the dim (it is small); also
      // measure the shuffle-join layout where skew actually matters
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for ((name, mk) <- Seq(
          "smj_join_aqe" -> ((d: DataFrame, dm: DataFrame) => plainJoin(d, dm)),
          "smj_salted" -> ((d: DataFrame, dm: DataFrame) => saltedJoin(d, dm)))) {
        val tu = time(sink(mk(uni, dimU)))
        val ts = time(sink(mk(ske, dimS)))
        println(f"$name%-16s uniform=$tu%6.2fs skewed=$ts%6.2fs ratio=${ts / tu}%4.2f")
      }
    }
    spark.stop()
  }
}
