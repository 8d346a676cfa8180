package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dev probe (r17, VERDICT ask #4): A/B the r16 corpus-sized
  * localCheckpoint barriers against recompute/reshape at a scaled-up
  * input (16x documents / 8x lineitem built in /tmp — sf0.1's frames
  * all fit memory, so the barrier-vs-recompute question needs a bigger
  * draw). One variant per JVM: `runMain graft.tools.CheckpointStress
  * <variant>` with SPARK_GRAFT_SF_DIR pointing at the scaled dir.
  * Variants: q168_cp | q168_nocp | q168_win | q201_cp | q201_nocp |
  * q298_join_cp | q298_win. Not part of the query surface.
  */
object CheckpointStress {
  def main(args: Array[String]): Unit = {
    val variant = args.headOption.getOrElse(sys.error("variant required"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sfbig")
    val spark = graft.GraftSession.getOrCreate("ERROR", graft.GraftSession.cpus(32))
    def noop(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    docs.count(); li.count() // warm scan init

    // ---- q168 wins-frame variants (DupSpans.spans body, w = 8) ------
    val w = 8
    def winsFrame: DataFrame = {
      val toks = docs.select(col("doc_id"),
        graft.llm.Surprisal.tokens(col("text")).as("toks"))
      val hsed = toks.select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        transform(col("toks"), t => xxhash64(t)).as("hs"))
      hsed.select(col("doc_id"), col("n_tokens"),
          posexplode(when(size(col("hs")) >= w,
            transform(sequence(lit(1), size(col("hs")) - (w - 1)),
              i => xxhash64((0 until w).map(o =>
                element_at(col("hs"), i + lit(o))): _*)))
            .otherwise(array().cast("array<bigint>"))))
        .withColumnRenamed("pos", "start").withColumnRenamed("col", "gram")
    }
    def spansTail(dup: DataFrame): DataFrame = {
      val byDoc = Window.partitionBy("doc_id").orderBy("start")
      dup
        .withColumn("prev_end", max(col("start") + (w - 1)).over(
          byDoc.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("brk",
          when(col("prev_end").isNull || col("start") > col("prev_end") + 1,
            1).otherwise(0))
        .withColumn("island", sum(col("brk")).over(
          byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("doc_id"), col("n_tokens"), col("island"))
        .agg((max(col("start")) + (w - 1) - min(col("start")) + 1)
          .cast("long").as("span_tokens"))
        .groupBy("doc_id", "n_tokens")
        .agg(count(lit(1)).as("n_spans"), sum("span_tokens").as("dup_tokens"))
    }
    def q168(withCp: Boolean): DataFrame = {
      val wins = if (withCp) winsFrame.localCheckpoint() else winsFrame
      val dupGrams = wins.groupBy("gram")
        .agg(count_distinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") > 1).select("gram")
      spansTail(wins.join(dupGrams, Seq("gram"), "left_semi"))
    }
    def q168win: DataFrame = {
      val wins = winsFrame
      val byGramDoc = Window.partitionBy("gram").orderBy("doc_id")
      val byGram = Window.partitionBy("gram")
      val dup = wins
        .withColumn("nd", when(lag(col("doc_id"), 1).over(byGramDoc).isNull
            || lag(col("doc_id"), 1).over(byGramDoc) =!= col("doc_id"), 1L)
          .otherwise(0L))
        .withColumn("n_docs", sum("nd").over(byGram))
        .filter(col("n_docs") > 1).drop("nd", "n_docs")
      spansTail(dup)
    }

    // ---- q201 unpivot variants --------------------------------------
    def q201(withCp: Boolean): DataFrame = {
      val base = li.select(
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        col("l_returnflag").as("returnflag"),
        col("l_linestatus").as("linestatus"),
        col("l_quantity").cast(LongType).cast(StringType).as("quantity"),
        month(col("l_shipdate")).cast(StringType).as("shipmonth"))
      val long0 = base.unpivot(Array(col("ok"), col("ln")),
        Array(col("returnflag"), col("linestatus"), col("quantity"),
          col("shipmonth")), "colname", "val")
        .withColumn("chunk", expr("ok div 1000"))
      val long = if (withCp) long0.localCheckpoint() else long0
      val wv = Window.partitionBy("colname", "chunk")
        .orderBy("ok", "ln", "val")
      val perChunk = long
        .withColumn("same",
          when(col("val") === lag("val", 1).over(wv), 1L).otherwise(0L))
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
        .agg(sum("n").as("n"), sum("matches").as("m"), sum("bmatch").as("bm"))
      val nd = long.groupBy("colname")
        .agg(count_distinct(col("val")).as("n_distinct"))
      stitched.join(nd, "colname")
    }

    // ---- q298 gram-frame variants -----------------------------------
    // the LlmQueries.gram8 shape, verbatim
    def gram8(ws: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      explode(when(size(ws) >= 8,
        transform(sequence(lit(0), size(ws) - 8), i =>
          graft.llm.TextDedup.portableHash(concat_ws(" ",
            (1 to 8).map(o => try_element_at(ws, i + lit(o))): _*))))
        .otherwise(array()))
    def gramsFrame: DataFrame = docs
      .select(col("doc_id"), col("source"),
        graft.llm.Surprisal.tokens(col("text")).as("ws"))
      .select(col("doc_id"), col("source"), gram8(col("ws")).as("g"))
    def q298tail(withN: DataFrame): DataFrame = {
      val all = Window.partitionBy()
      withN.groupBy("source")
        .agg(countDistinct("doc_id").as("n_docs"),
          count(lit(1)).as("n_windows"),
          sum(when(col("n") >= 2, 1L).otherwise(0L)).as("dup_windows"))
        .withColumn("risk_flag",
          (col("dup_windows") * sum("n_windows").over(all) >
            sum("dup_windows").over(all) * col("n_windows"))
          .cast(IntegerType))
    }
    def q298joinCp: DataFrame = {
      val grams = gramsFrame.localCheckpoint()
      val counts = grams.groupBy("g").agg(count(lit(1)).as("n"))
      q298tail(grams.join(counts, Seq("g")))
    }
    def q298win: DataFrame =
      q298tail(gramsFrame
        .withColumn("n", count(lit(1)).over(Window.partitionBy("g"))))

    // ---- q264 per-gram source-set variants ---------------------------
    def q264grams: DataFrame = docs
      .select(col("source"),
        explode(graft.llm.TextDedup.shingles(col("text"), 3)).as("gs"))
      .select(col("source"), graft.llm.TextDedup.portableHash(col("gs")).as("g"))
      .distinct()
    def q264pairsOf = flatten(transform(col("ss"), (x, i) =>
      transform(slice(col("ss"), i + lit(2),
        greatest(size(col("ss")) - i - lit(1), lit(0))),
        y => struct(x.as("s1"), y.as("s2")))))
    def q264tail(sizes: DataFrame, inter: DataFrame): DataFrame = {
      val grid = sizes.select(col("source").as("s1"), col("n").as("n1"))
        .crossJoin(sizes.select(col("source").as("s2"), col("n").as("n2")))
        .filter(col("s1") < col("s2"))
      grid.join(inter, Seq("s1", "s2"), "left")
        .withColumn("inter", coalesce(col("inter"), lit(0L)))
    }
    def q264cp: DataFrame = { // the r16 shape: gsets checkpointed, 2 consumers
      val gsets = q264grams.groupBy("g")
        .agg(sort_array(collect_set(col("source"))).as("ss"))
        .localCheckpoint()
      val sizes = gsets.select(explode(col("ss")).as("source"))
        .groupBy("source").agg(count(lit(1)).as("n"))
      val inter = gsets.select(explode(q264pairsOf).as("p"))
        .select(col("p.s1").as("s1"), col("p.s2").as("s2"))
        .groupBy("s1", "s2").agg(count(lit(1)).as("inter"))
      q264tail(sizes, inter)
    }
    def q264onepass: DataFrame = { // r17: singles+pairs in one generator
      val gsets = q264grams.groupBy("g")
        .agg(sort_array(collect_set(col("source"))).as("ss"))
      val singlesOf = transform(col("ss"),
        x => struct(x.as("s1"), lit(null).cast(StringType).as("s2")))
      val counts = gsets
        .select(explode(concat(singlesOf, q264pairsOf)).as("p"))
        .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      q264tail(
        counts.filter(col("s2").isNull)
          .select(col("s1").as("source"), col("cnt").as("n")),
        counts.filter(col("s2").isNotNull)
          .select(col("s1"), col("s2"), col("cnt").as("inter")))
    }

    val body: () => DataFrame = variant match {
      case "q168_cp"     => () => q168(withCp = true)
      case "q168_nocp"   => () => q168(withCp = false)
      case "q168_win"    => () => q168win
      case "q201_cp"     => () => q201(withCp = true)
      case "q201_nocp"   => () => q201(withCp = false)
      case "q298_join_cp" => () => q298joinCp
      case "q298_win"    => () => q298win
      case "q264_cp"     => () => q264cp
      case "q264_onepass" => () => q264onepass
      case other => sys.error(s"unknown variant $other")
    }
    val times = (1 to 2).map { _ =>
      val t0 = System.nanoTime(); noop(body()); (System.nanoTime() - t0) / 1e9
    }
    println(f"STRESS $variant%-14s min ${times.min}%.2f s  runs ${times.map(t => f"$t%.2f").mkString(",")}")
    spark.stop()
  }
}
