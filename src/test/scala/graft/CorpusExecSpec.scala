package graft

import java.nio.file.{Files, Path}
import graft.dag.{CorpusLoader, SyntheticRows}
import org.apache.spark.sql.types._

/** The corpus EXECUTION sweep (q109): the reference's whole SQL tree
  * runs end-to-end over a deterministic synthetic fixture — every view
  * executes (UDF bodies, ANSI casts, JSON paths, date arithmetic all on
  * real rows) and returns rows. The analyze-only sweep (CorpusSweepSpec)
  * proves the SQL translates; this proves it computes.
  */
class CorpusExecSpec extends SparkTestBase {


  test("SyntheticRows is deterministic, schema-typed, and honors REQUIRED") {
    val schema = StructType(Seq(
      StructField("number", LongType, nullable = false),
      StructField("url", StringType, nullable = true),
      StructField("keywords", ArrayType(StringType, containsNull = false), nullable = true),
      StructField("score", DecimalType(38, 9), nullable = true),
      StructField("creation_time", TimestampType, nullable = false)))
    val a = SyntheticRows.rows("t", schema, 20)
    val b = SyntheticRows.rows("t", schema, 20)
    assert(a == b, "same (table, schema, n) must generate identical rows")
    assert(a.map(_.getLong(0)).distinct.size == 20, "`number` must be a unique key")
    assert(a.forall(r => !r.isNullAt(0) && !r.isNullAt(4)), "REQUIRED fields never null")
    assert(a.exists(r => r.isNullAt(3)), "nullable fields do go null")
    val df = spark.createDataFrame(java.util.Arrays.asList(a: _*), schema)
    assert(df.schema == schema)
    assert(df.count() == 20)
  }

  test("full corpus executes over the fixture: 64 views, zero failures, all non-empty") {
    assume(corpusAvailable, "reference corpus not present")
    val result = CorpusLoader.deploy(spark, corpusRoot, rowsPerTable = 64)
    assert(result.failures.isEmpty,
      s"deploy failures: ${result.failures.map(f => s"${f.dataset}.${f.name}: ${f.error.getOrElse("?")}").mkString("\n")}")
    val execs = CorpusLoader.executeAll(spark, result)
    assert(execs.size == 64, s"expected 64 views executed, got ${execs.size}")
    val failed = execs.filterNot(_.ok)
    assert(failed.isEmpty,
      s"exec failures: ${failed.map(e => s"${e.dataset}.${e.name}: ${e.error.getOrElse("?")}").mkString("\n")}")
    val empty = execs.filter(_.rows == 0)
    assert(empty.isEmpty,
      s"views with empty results: ${empty.map(e => s"${e.dataset}.${e.name}").mkString(", ")}")
    // the dim-inlined score routine produced real (non-null) scores
    val scored = spark.table("webcompat_knowledge_base__scored_site_reports")
    assert(scored.filter("triage_score IS NOT NULL").count() > 0,
      "WEBCOMPAT_METRIC_SCORE_NO_SITE_RANK inlining produced no scores")
  }

  test("fused deployAndExecute matches the staged deploy-then-executeAll sweep") {
    assume(corpusAvailable, "reference corpus not present")
    val staged = {
      val result = CorpusLoader.deploy(spark, corpusRoot, rowsPerTable = 40)
      CorpusLoader.executeAll(spark, result)
    }
    val (result, fused) = CorpusLoader.deployAndExecute(spark, corpusRoot, rowsPerTable = 40)
    assert(result.failures.isEmpty)
    // same views, same order, same row counts — only the wall-clock differs
    assert(fused.map(e => (e.dataset, e.name, e.ok, e.rows)) ==
      staged.map(e => (e.dataset, e.name, e.ok, e.rows)))
  }

  test("warehouse-mode materialization (parquet persist) matches fixture-mode counts") {
    assume(corpusAvailable, "reference corpus not present")
    val result = CorpusLoader.deploy(spark, corpusRoot, rowsPerTable = 40)
    val local = CorpusLoader.executeAll(spark, result)
      .map(e => (e.dataset, e.name) -> e.rows).toMap
    val dir = Path.of(scratch.dir("corpus_wh"))
    try {
      val redeploy = CorpusLoader.deploy(spark, corpusRoot, rowsPerTable = 40)
      val persisted = CorpusLoader.executeAll(spark, redeploy, persistDir = Some(dir))
      assert(persisted.forall(_.ok),
        s"persist failures: ${persisted.filterNot(_.ok).map(e => s"${e.dataset}.${e.name}: ${e.error.getOrElse("?")}").mkString("\n")}")
      persisted.foreach { e =>
        assert(local((e.dataset, e.name)) == e.rows,
          s"${e.dataset}.${e.name}: parquet-mode rows ${e.rows} != local-mode ${local((e.dataset, e.name))}")
      }
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
    }
  }
}
