package graft

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{LongType, StringType, TimestampNTZType, TimestampType}

import graft.util.Tables

class TablesSpec extends SparkTestBase {

  /** Jobs `body` starts on this thread, counted by a listener. A marker
    * job runs after `body` and is waited for, so every earlier job start
    * has reached the listener when they are counted. */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${java.util.UUID.randomUUID}"
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "probe")
      body
      sc.setJobGroup(s"$group-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime + 60000000000L
      while (!groups.contains(s"$group-marker") && System.nanoTime < deadline) Thread.sleep(10)
      assert(groups.contains(s"$group-marker"), "the marker job never reached the listener")
      groups.asScala.count(_ == group)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private val tables = new File(sfDir).list().toSeq.filter(_.endsWith(".parquet")).sorted

  test("t reads every table with the schema plain inference gives") {
    assert(tables.contains("events.parquet") && tables.size >= 10, tables)
    tables.foreach { f =>
      val path = s"$sfDir/$f"
      assert(Tables.readParquet(spark, path).schema == spark.read.parquet(path).schema, f)
    }
  }

  test("a second t() of a table starts no job") {
    Tables.t(spark, sfDir, "nation").schema
    assert(jobsOf(Tables.t(spark, sfDir, "nation").schema) == 0)
    // the counter sees the inference job a plain read starts
    assert(jobsOf(spark.read.parquet(s"$sfDir/nation.parquet").schema) == 1)
  }

  test("a changed inference setting infers again") {
    // events.ts is a parquet timestamp without time zone: TIMESTAMP_NTZ
    // by default, TIMESTAMP when NTZ inference is off
    val events = s"$sfDir/events.parquet"
    assert(Tables.readParquet(spark, events).schema("ts").dataType == TimestampNTZType)
    val ltz = spark.newSession()
    ltz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(ltz.read.parquet(events).schema("ts").dataType == TimestampType)
    assert(Tables.readParquet(ltz, events).schema == ltz.read.parquet(events).schema)
    assert(Tables.readParquet(spark, events).schema("ts").dataType == TimestampNTZType)
  }

  test("a rewritten file or directory is read with its new schema") {
    import spark.implicits._
    val dir = scratch.dir("tables_rewrite")
    val ds = s"$dir/ds.parquet"
    Seq((1L, "a")).toDF("a", "b").coalesce(1).write.parquet(ds)
    assert(Tables.readParquet(spark, ds).schema.map(f => f.name -> f.dataType) ==
      Seq("a" -> LongType, "b" -> StringType))
    Seq(("x", 2L, 3L)).toDF("c", "d", "e").coalesce(1).write.mode("overwrite").parquet(ds)
    assert(Tables.readParquet(spark, ds).schema.map(_.name) == Seq("c", "d", "e"))
    assert(Tables.readParquet(spark, ds).collect().toSeq.map(_.toSeq) == Seq(Seq("x", 2L, 3L)))

    // a single file, as the warehouse tables are, replaced in place
    def part(from: String) = new File(from).listFiles().find(_.getName.endsWith(".parquet")).get.toPath
    val one = Paths.get(dir, "one.parquet")
    Files.copy(part(ds), one)
    assert(Tables.t(spark, dir, "one").schema.map(_.name) == Seq("c", "d", "e"))
    val other = s"$dir/other"
    Seq((1, 2.0)).toDF("f", "g").coalesce(1).write.parquet(other)
    Files.copy(part(other), one, StandardCopyOption.REPLACE_EXISTING)
    assert(Tables.t(spark, dir, "one").schema.map(_.name) == Seq("f", "g"))
  }

  test("a missing table fails as a plain read does") {
    val missing = s"$sfDir/no_such_table.parquet"
    val plain = intercept[Exception](spark.read.parquet(missing))
    val read = intercept[Exception](Tables.readParquet(spark, missing))
    assert(read.getClass == plain.getClass && read.getMessage == plain.getMessage)
  }
}
