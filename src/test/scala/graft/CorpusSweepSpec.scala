package graft

import java.nio.file.Files
import graft.dag.{CorpusLint, CorpusLoader, JinjaLite}

/** The corpus sweep: the reference's entire on-disk SQL tree
  * (data/sql — 13 datasets, 80 tables, 64 views, 16 routines) loaded,
  * Jinja-rendered, dialect-translated, and deployed with every view
  * passing full Spark analysis. This is the engine's "runs the real
  * product" gate — the analog of update_schema.py's deploy over
  * projectdata.py's load_templates.
  */
class CorpusSweepSpec extends SparkTestBase {


  test("full corpus deploys: 80 tables, 16 routines, 64 views, zero failures") {
    assume(corpusAvailable, "reference corpus not present")
    val result = CorpusLoader.deploy(spark, corpusRoot, storeAnalyzed = true)
    val byKind = result.outcomes.groupBy(_.kind).view.mapValues(_.size).toMap
    assert(byKind("table") == 80, s"tables: $byKind")
    assert(byKind("routine") == 16, s"routines: $byKind")
    assert(byKind("view") == 64, s"views: $byKind")
    assert(result.failures.isEmpty,
      s"deploy failures: ${result.failures.map(f => s"${f.dataset}.${f.name}: ${f.error.getOrElse("?")}").mkString("\n")}")
    // every deployed view must be queryable through the session catalog
    val sample = Seq("webcompat_knowledge_base__scored_site_reports",
      "webcompat_knowledge_base__site_reports", "web_features__features_latest")
    sample.foreach(v => assert(spark.table(v).schema.nonEmpty, s"$v has empty schema"))
    // the hub view's computed columns came through translation
    val scored = spark.table("webcompat_knowledge_base__scored_site_reports")
    Seq("score", "triage_score", "severity_score", "is_sightline").foreach(c =>
      assert(scored.columns.contains(c), s"scored_site_reports missing $c"))
  }

  test("sweep summary matches the corpus's golden inventory") {
    assume(corpusAvailable, "reference corpus not present")
    val result = CorpusLoader.deploy(spark, corpusRoot, storeAnalyzed = true)
    val rows = CorpusLoader.sweepSummary(spark, result)
      .orderBy("dataset", "kind").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.contains(("webcompat_knowledge_base", "view", 57L, 57L)))
    assert(rows.contains(("webcompat_knowledge_base", "table", 53L, 53L)))
    assert(rows.contains(("webcompat_knowledge_base", "routine", 13L, 13L)))
    assert(rows.map(_._3).sum == 160L)
    assert(rows.forall(r => r._3 == r._4), s"n_ok != n_objects in: ${rows.filterNot(r => r._3 == r._4).mkString}")
  }

  test("JinjaLite renders the real metric templates (loops, for-if, nested loops, ternary)") {
    assume(corpusAvailable, "reference corpus not present")
    val base = CorpusLoader.metricsContext(corpusRoot)
    def render(rel: String, dataset: String, name: String): String = {
      val template = Files.readString(corpusRoot.resolve(rel))
      JinjaLite.render(template,
        CorpusLoader.templateContext(base,
          CorpusLoader.CorpusObject(dataset, name, "view", template, None)))
    }
    // for-if over metrics.values() with method-call condition
    // (scored_site_reports/view.sql:5-7) — only metrics with a
    // host_min_ranks_condition emit is_<name> columns
    val scored = render("sql/webcompat_knowledge_base/views/scored_site_reports/view.sql",
      "webcompat_knowledge_base", "scored_site_reports")
    assert(scored.contains("AS is_sightline"))
    assert(!scored.contains("{%") && !scored.contains("{{"), "unrendered Jinja left")
    // nested loops + outer `loop.last` after inner endfor
    // (webcompat_topline_metric_latest/view.sql)
    val latest = render("sql/webcompat_knowledge_base/views/webcompat_topline_metric_latest/view.sql",
      "webcompat_knowledge_base", "webcompat_topline_metric_latest")
    assert(latest.contains("bug_count") && latest.contains("total_score"))
    // ternary with != / or / in-list (webcompat_topline_metric_daily/table.toml)
    val daily = Files.readString(corpusRoot.resolve(
      "sql/webcompat_knowledge_base/tables/webcompat_topline_metric_daily/table.toml"))
    val dailyRendered = JinjaLite.render(daily,
      CorpusLoader.templateContext(base,
        CorpusLoader.CorpusObject("webcompat_knowledge_base", "webcompat_topline_metric_daily", "table", daily, None)))
    // bug_count fields stay INTEGER only for the three named metrics
    assert(dailyRendered.contains("[bug_count_all]\ntype = \"INTEGER\"")
      || dailyRendered.contains("[bug_count_all]\n\ntype = \"INTEGER\""))
    assert(dailyRendered.contains("[bug_count_core]\ntype = \"NUMERIC\"")
      || dailyRendered.contains("[bug_count_core]\n\ntype = \"NUMERIC\""))
    // rank-column loop (crux_imported/tables/host_min_ranks/table.toml)
    val ranks = render("sql/crux_imported/tables/host_min_ranks/table.toml",
      "crux_imported", "host_min_ranks")
    assert(ranks.contains("[global_rank]") && ranks.contains("[core_rank]"))
  }

  test("template lint passes on the real corpus and flags violations") {
    assume(corpusAvailable, "reference corpus not present")
    val objects = CorpusLoader.scan(corpusRoot.resolve("sql"))
    val errors = CorpusLint.lintTemplates("moz-webcompat", objects)
    assert(errors.isEmpty, s"lint errors: ${errors.mkString("\n")}")
    // hardcoded project id is flagged
    val bad = CorpusLoader.CorpusObject("ds", "v", "view",
      "SELECT * FROM `moz-webcompat.ds.t`", None)
    assert(CorpusLint.lintTemplates("moz-webcompat", Seq(bad)).nonEmpty)
    // own dataset id as qualifier is flagged
    val bad2 = CorpusLoader.CorpusObject("ds", "v", "view",
      "SELECT * FROM ds.t", None)
    assert(CorpusLint.lintTemplates("moz-webcompat", Seq(bad2)).nonEmpty)
    // unknown etl job in table metadata is flagged
    val bad3 = CorpusLoader.CorpusObject("ds", "t", "table",
      "[f]\ntype = \"STRING\"", Some("name = \"t\"\netl = [\"no-such-job\"]"))
    assert(CorpusLint.lintTemplates("moz-webcompat", Seq(bad3)).nonEmpty)
  }

  test("routine shape validation rejects malformed routines (update_schema.py:254)") {
    assert(CorpusLint.validateRoutineSql("ds__F",
      "CREATE OR REPLACE FUNCTION `ds__F`(x STRING) RETURNS STRING AS (upper(x));").isEmpty)
    // wrong name
    assert(CorpusLint.validateRoutineSql("ds__F",
      "CREATE OR REPLACE FUNCTION `other`(x STRING) RETURNS STRING AS (upper(x));").nonEmpty)
    // not a CREATE FUNCTION at all
    assert(CorpusLint.validateRoutineSql("ds__F", "DROP TABLE important;").nonEmpty)
    // OPTIONS not permitted
    assert(CorpusLint.validateRoutineSql("ds__F",
      "CREATE OR REPLACE FUNCTION `ds__F`(x STRING) RETURNS STRING AS (upper(x)) OPTIONS(a=1);").nonEmpty)
  }
}
