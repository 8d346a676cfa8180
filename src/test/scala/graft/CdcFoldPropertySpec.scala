package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.CdcApply
import graft.streaming.StreamOps

/** Property test for the CDC MERGE fold (VERDICT r11 ask #7): three
  * independent implementations — the batch operator
  * [[CdcApply.apply]], the plain-SQL window form (the q199 oracle
  * shape), and the micro-batched streaming fold
  * [[StreamOps.cdcUpsertStream]] — must agree row-for-row on random
  * changelogs engineered to hit the seams that produced the r11 red
  * rows: key collisions, exact seq ties (op ASCII tiebreak), late
  * lower-seq updates after a tombstone, keys absent from the
  * snapshot, and arbitrary cross-batch chops of the same log.
  *
  * Payloads are a pure function of (k, seq, op) so duplicate
  * deliveries and tie winners are well-defined in every
  * implementation (the fold's tie contract orders by (seq, op) only).
  */
class CdcFoldPropertySpec extends SparkTestBase {
  import spark.implicits._

  private val logSchema = StructType(Seq(
    StructField("k", LongType), StructField("seq", LongType),
    StructField("op", StringType),
    StructField("price", DoubleType),
    StructField("status", StringType)))

  private def price(k: Long, seq: Long): Double = (k * 31 + seq) * 1.5
  private def status(k: Long, seq: Long): String = s"s${(k + seq) % 7}"

  /** Random snapshot + changelog. Small key/seq domains force
    * collisions and exact ties; ~1-in-4 ops are tombstones and a few
    * keys are changelog-only (inserts). */
  private def genCase(seed: Int, s: SparkSession = spark): (DataFrame, DataFrame) = {
    import s.implicits._
    val rnd = new Random(seed)
    val snapKeys = (0L until 30L).filter(_ => rnd.nextBoolean())
    val snap = snapKeys.map(k => (k, k * 2.0, s"base${k % 5}"))
      .toDF("k", "price", "status")
    val ops = Array("U", "U", "I", "D")
    val ch = (0 until 60).map { _ =>
      val k = rnd.nextInt(35).toLong
      val seq = rnd.nextInt(3).toLong
      val op = ops(rnd.nextInt(ops.length))
      if (op == "D") (k, seq, op, null.asInstanceOf[java.lang.Double],
        null.asInstanceOf[String])
      else (k, seq, op, java.lang.Double.valueOf(price(k, seq)),
        status(k, seq))
    }.toDF("k", "seq", "op", "price", "status")
    (snap, ch)
  }

  private def canon(df: DataFrame): Set[(Long, Option[Double],
      Option[String], Boolean)] =
    df.select(col("k"), col("price"), col("status"), col("from_change"))
      .as[(Long, Option[Double], Option[String], Boolean)]
      .collect().toSet

  /** The window form, planned on `windowed` so it keeps its Window. */
  private def sqlFold(seed: Int): DataFrame = {
    val (snap, ch) = genCase(seed, windowed)
    snap.createOrReplaceTempView("cdc_snap")
    ch.createOrReplaceTempView("cdc_ch")
    windowBaseline(windowed.sql(
      """WITH latest AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY k ORDER BY seq DESC, op DESC) AS rn
        |    FROM cdc_ch) WHERE rn = 1)
        |SELECT s.k, s.price, s.status, FALSE AS from_change
        |FROM cdc_snap s LEFT JOIN latest l ON s.k = l.k WHERE l.k IS NULL
        |UNION ALL
        |SELECT k, price, status, TRUE FROM latest WHERE op <> 'D'
        |""".stripMargin))
  }

  test("batch operator == SQL window form on 12 random cases") {
    (1 to 12).foreach { seed =>
      val (snap, ch) = genCase(seed)
      val a = canon(CdcApply(snap, ch, "k", Seq("seq")))
      val b = canon(sqlFold(seed))
      assert(a == b, s"seed=$seed batch-vs-sql")
    }
  }

  test("streaming fold == batch operator across random 4-file chops") {
    (101 to 103).foreach { seed =>
      val (snap, ch) = genCase(seed)
      val logDir = scratch.dir("cdc_prop_log")
      val stateDir = scratch.dir("cdc_prop_state")
      // hash-chop into 4 files: arrival order is file order, so the
      // same (k, seq) pair routinely splits across triggers
      ch.repartition(4).write.mode("overwrite").parquet(logDir)
      val streamed = canon(StreamOps.cdcUpsertStream(
        spark, logDir, stateDir, logSchema, snap))
      val batch = canon(CdcApply(snap, ch, "k", Seq("seq")))
      assert(streamed == batch, s"seed=$seed stream-vs-batch")
    }
  }

  /** Write rows as ONE parquet file named `<name>.parquet` in dir. */
  private def writeFile(dir: String, name: String, df: DataFrame): Unit = {
    val tmp = scratch.dir("cdc_prop_part")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath,
      java.nio.file.Paths.get(dir, s"$name.parquet"))
  }

  test("tombstone is final against late lower-seq updates, cross-batch") {
    val snap = Seq((1L, 10.0, "a")).toDF("k", "price", "status")
    val dRow = Seq((1L, 5L, "D", null.asInstanceOf[java.lang.Double],
      null.asInstanceOf[String])).toDF("k", "seq", "op", "price", "status")
    val uRow = Seq((1L, 2L, "U", java.lang.Double.valueOf(99.0), "late"))
      .toDF("k", "seq", "op", "price", "status")
    // D@5 in trigger 1, then the late lower-seq U@2 in trigger 2 —
    // the tombstone must hold; and the reverse order must also end
    // deleted (D has the higher seq either way).
    Seq(Seq(("00_d", dRow), ("01_u", uRow)),
        Seq(("00_u", uRow), ("01_d", dRow))).foreach { files =>
      val logDir = scratch.dir("cdc_prop_tomb")
      val stateDir = scratch.dir("cdc_prop_tstate")
      files.foreach { case (n, df) => writeFile(logDir, n, df) }
      val out = StreamOps.cdcUpsertStream(spark, logDir, stateDir,
        logSchema, snap)
      assert(canon(out).isEmpty,
        s"order ${files.map(_._1)}: tombstone must hold")
    }
  }
}
