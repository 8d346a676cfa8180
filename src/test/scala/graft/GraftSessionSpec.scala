package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

/** `GraftSession.conf` is pure conf arithmetic: no SparkContext starts.
  * The source scan pins that it stays the only way into the engine. */
class GraftSessionSpec extends AnyFunSuite {

  test("submitted master, shuffle partitions and extensions win") {
    val base = new SparkConf(false)
      .set("spark.master", "local[1]")
      .set("spark.sql.shuffle.partitions", "7")
      .set("spark.sql.extensions", "foo")
    val once = GraftSession.conf(base, cpus = 4)
    assert(once.get("spark.master") == "local[1]")
    assert(once.get("spark.sql.shuffle.partitions") == "7")
    assert(once.get("spark.sql.extensions") == "foo,graft.GraftExtensions")
    assert(base.get("spark.sql.extensions") == "foo", "the base conf must not change")
    val twice = GraftSession.conf(once, cpus = 4)
    assert(twice.get("spark.sql.extensions") == "foo,graft.GraftExtensions")
  }

  test("an empty conf gets local[cpus] and as many shuffle partitions") {
    val c = GraftSession.conf(new SparkConf(false), cpus = 3)
    assert(c.get("spark.master") == "local[3]")
    assert(c.get("spark.sql.shuffle.partitions") == "3")
    assert(c.get("spark.sql.extensions") == "graft.GraftExtensions")
  }

  // The benchmark times its queries with perfbench/workloads.json's
  // query_conf; Verify and Main run with GraftSession's conf. They must
  // not drift apart.
  test("perfbench's query_conf equals GraftSession's conf") {
    val queryConf = new ObjectMapper()
      .readTree(new java.io.File("perfbench/workloads.json")).get("query_conf")
    assert(queryConf != null && queryConf.size > 0)
    val cpus = 3
    val c = GraftSession.conf(new SparkConf(false), cpus)
    queryConf.properties.asScala.foreach { e =>
      val expected = e.getValue.asText.replace("$CPUS", cpus.toString)
      assert(c.getOption(e.getKey).contains(expected), s"${e.getKey}")
    }
  }

  // Every session is a GraftSession, so GraftExtensions is the one way a
  // session gets graft's functions and rules. This file is skipped: it
  // has to spell the patterns it looks for.
  private lazy val sources = Using.resource(Files.walk(Paths.get("src")))(_.iterator.asScala
    .filter(p => Files.isRegularFile(p) && p.getFileName.toString != "GraftSessionSpec.scala")
    .toList)
  private def mentioning(pattern: String): Seq[Path] =
    sources.filter(p => Files.readString(p).contains(pattern))

  // LocalFsSpec also builds one, in a child JVM, to stand for perfbench's
  // harness, which builds its own session without GraftSession.
  test("only GraftSession builds a session, and nothing registers functions or rules on one") {
    assert(mentioning("SparkSession.builder").toSet == Set(
      Paths.get("src/main/scala/graft/GraftSession.scala"), Paths.get("src/test/scala/graft/LocalFsSpec.scala")))
    assert(mentioning("registerFunction").isEmpty)
    assert(mentioning("createOrReplaceTempFunction").isEmpty)
    assert(mentioning("extraOptimizations").isEmpty)
  }

  // graft.util.Scratch owns every temp dir, the program's and the
  // specs' (each suite sweeps its own instance when it ends).
  test("only Scratch creates temp directories") {
    assert(mentioning("createTempDirectory") == Seq(Paths.get("src/main/scala/graft/util/Scratch.scala")))
  }

  // StreamOps is the one streaming path: one reader (`fileStream`), one
  // query start, and one runner that caps the partitions of the whole
  // run, so a cap cannot sit where a trigger's frames never see it.
  test("only StreamOps streams, through one reader and one capped start") {
    val streamOps = Paths.get("src/main/scala/graft/streaming/StreamOps.scala")
    Seq("readStream", "writeStream", "foreachBatch").foreach { p =>
      assert(mentioning(p).filter(_.startsWith("src/main")) == Seq(streamOps), p)
    }
    val text = Files.readString(streamOps)
    def count(p: String) = text.split(java.util.regex.Pattern.quote(p), -1).length - 1
    assert(count("readStream") == 1)
    assert(count(".start()") == 1)
    assert(count("withStatePartitions(") == 1)
  }
}
