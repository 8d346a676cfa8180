package graft

import org.apache.spark.sql.functions._
import graft.operators.ZOrder

class ZOrderSpec extends SparkTestBase {
  import spark.implicits._

  test("interleave16 matches the reference Morton code on known values") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L), (3L, 5L))
      .toDF("x", "y")
    def morton(x: Long, y: Long): Long =
      (0 until 16).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    val got = df.select(ZOrder.interleave16(col("x"), col("y"))).as[Long].collect()
    val want = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L), (3L, 5L))
      .map { case (x, y) => morton(x, y) }
    assert(got.toSeq == want)
    assert(want(3) == 0xFFFFFFFFL) // full grid corner = all 32 bits set
  }

  test("z-buckets bound BOTH dimensions: a 2-D box overlaps few buckets") {
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_custkey").as("x"),
        datediff(to_date(col("o_orderdate")),
          lit(java.sql.Date.valueOf("1970-01-01"))).cast("long").as("y"))
    val rep = ZOrder.layoutReport(o).collect()
    val (xlo, xhi) = (o.agg(min("x")).as[Long].head(), o.agg(max("x")).as[Long].head())
    val (ylo, yhi) = (o.agg(min("y")).as[Long].head(), o.agg(max("y")).as[Long].head())
    // box = central 1/8 of each dimension -> area 1/64 of the space
    def mid(lo: Long, hi: Long, f0: Double, f1: Double) =
      (lo + ((hi - lo) * f0).toLong, lo + ((hi - lo) * f1).toLong)
    val (bx0, bx1) = mid(xlo, xhi, 0.4375, 0.5625)
    val (by0, by1) = mid(ylo, yhi, 0.4375, 0.5625)
    val overlapping = rep.count { r =>
      r.getAs[Long]("max_x") >= bx0 && r.getAs[Long]("min_x") <= bx1 &&
        r.getAs[Long]("max_y") >= by0 && r.getAs[Long]("min_y") <= by1
    }
    // a 1-D layout bounds one dim only: >= 1/8 of buckets (128) survive.
    // z-order keeps both dims boxed: the 1/64-area box should touch well
    // under half of the 1-D floor
    assert(rep.length > 500, s"expected ~1024 buckets, got ${rep.length}")
    assert(overlapping < 64,
      s"2-D box overlaps $overlapping of ${rep.length} buckets — no 2-D locality")
  }

  test("a z-partitioned write prunes partitions for a 2-D box query") {
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey").as("x"),
        datediff(to_date(col("o_orderdate")),
          lit(java.sql.Date.valueOf("1970-01-01"))).cast("long").as("y"))
    val dir = scratch.dir("zorder_spec")
    // the 100 TB layout in miniature: partition dirs by coarse z-bucket
    // (files within a partition would be z-sorted row groups)
    ZOrder.withZ(o)
      .withColumn("zb", shiftright(col("z"), 32 - 4))
      .write.mode("overwrite").partitionBy("zb").parquet(dir)
    val read = spark.read.parquet(dir)
    // scan-side z-skipping: candidate partitions = those whose audited
    // min/max box overlaps the query box (what a z-range decomposition
    // computes without touching data)
    def band(c: String): (Long, Long) = {
      val Array(lo, hi) = read.agg(min(c), max(c)).collect()
        .head.toSeq.map(_.asInstanceOf[Long]).toArray
      (lo + (hi - lo) / 4, lo + (hi - lo) / 2) // central quarter band
    }
    val xr = band("x")
    val yr = band("y")
    val boxes = read.groupBy("zb").agg(
      min("x").as("mnx"), max("x").as("mxx"),
      min("y").as("mny"), max("y").as("mxy")).collect()
    val cand = boxes.filter { b =>
      b.getAs[Long]("mxx") >= xr._1 && b.getAs[Long]("mnx") <= xr._2 &&
        b.getAs[Long]("mxy") >= yr._1 && b.getAs[Long]("mny") <= yr._2
    }.map(_.getAs[Int]("zb"))
    val boxPred = col("x").between(xr._1, xr._2) && col("y").between(yr._1, yr._2)
    val full = read.filter(boxPred)
    val pruned = read.filter(col("zb").isin(cand.map(Integer.valueOf): _*) && boxPred)
    // pruning must lose no rows, skip a real fraction of partitions, and
    // reach the scan as a partition filter (zb is a partition column)
    assert(full.count() == pruned.count() && full.count() > 0)
    assert(cand.length < boxes.length,
      s"box overlapped every one of ${boxes.length} partitions")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      !plan.replaceAll("\\s", "").contains("PartitionFilters:[]"), plan)
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(rm(_))
      java.nio.file.Files.delete(p)
    }
    rm(java.nio.file.Paths.get(dir))
  }
}
