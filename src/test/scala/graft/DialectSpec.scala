package graft

import org.apache.spark.sql.functions._
import graft.dag.{Dialect, ViewDag, ViewDef}

/** Dialect translation proven by EXECUTING translated reference-shaped
  * SQL on Spark against fixture data (not just string equality). */
class DialectSpec extends SparkTestBase {
  import spark.implicits._

  test("implicit-unnest EXISTS becomes the exists() HOF, executed on data") {
    // the platform_priority_scores shape: EXISTS over a bare dotted
    // array path with unqualified element-field predicates. Must become
    // a linear HOF (Spark decorrelates the correlated-subquery fallback
    // into a domain join PER EXISTS — measured 680 s at 640 fixture
    // rows vs 21 s with the HOF)
    val t = Dialect.translate(
      """SELECT f.name FROM feats AS f WHERE EXISTS (
        |  SELECT 1 FROM f.bugs as bugs where priority = "P1" OR priority = "P2")""".stripMargin)
    assert(t.contains("exists(f.bugs, bugs -> bugs.priority = "), t)
    assert(!t.toLowerCase.contains("inline"), t)
    // predicates that reference anything dotted/called fall through to
    // the (correct, slower) correlated path instead of misqualifying
    val keep = Dialect.translate(
      "SELECT 1 FROM t WHERE EXISTS (SELECT 1 FROM t.arr AS x WHERE upper(v) = 'A')")
    assert(keep.toLowerCase.contains("inline"), keep)
    // executed end-to-end: HOF result matches the hand-written truth
    val df = Seq(
      ("a", Seq(("P1", 1L), ("P3", 2L))),
      ("b", Seq(("P3", 3L))),
      ("c", Seq.empty[(String, Long)])).toDF("name", "bugs")
      .select(col("name"), col("bugs").cast(
        "array<struct<priority:string,n:bigint>>").as("bugs"))
    df.createOrReplaceTempView("feats_hof")
    val got = spark.sql(Dialect.translate(
      """SELECT name FROM feats_hof AS f
        |WHERE EXISTS (SELECT 1 FROM f.bugs AS bugs where priority = "P1")""".stripMargin))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("a"))
  }

  test("function shims translate") {
    assert(Dialect.translate("SELECT COUNTIF(x > 1) FROM t")
      .contains("count_if(x > 1)"))
    // SAFE_CAST also maps BigQuery type names to Spark's
    assert(Dialect.translate("SELECT SAFE_CAST(v AS INT64) FROM t")
      .contains("try_cast(v AS BIGINT)"))
    assert(Dialect.translate("SELECT SAFE_CAST(v AS FLOAT64)")
      .contains("try_cast(v AS DOUBLE)"))
    assert(Dialect.translate("SELECT CAST(v AS NUMERIC)")
      .contains("CAST(v AS DECIMAL(38,9))"))
    assert(Dialect.translate("SELECT SAFE_DIVIDE(a, b)").contains("try_divide(a, b)"))
    assert(Dialect.translate("SELECT JSON_VALUE(j, '$.k')")
      .contains("get_json_object(j, '$.k')"))
    // NET.HOST defaults a scheme (BigQuery is best-effort on bare
    // hostnames; parse_url alone returns NULL) — same form as
    // BqShims.netHost so both shim layers agree
    assert(Dialect.translate("SELECT NET.HOST(url)").contains(
      "parse_url(CASE WHEN (url) LIKE '%://%' THEN (url) ELSE 'http://' || (url) END, 'HOST')"))
    // nested call args must survive (the old regex capture broke on them)
    assert(Dialect.translate("SELECT NET.HOST(CONCAT(a, b))").contains(
      "parse_url(CASE WHEN (CONCAT(a, b)) LIKE '%://%'"))
    assert(Dialect.translate("SELECT FARM_FINGERPRINT(id)").contains("xxhash64(id)"))
    assert(Dialect.translate("SELECT ARRAY_LENGTH(a)").contains("size(a)"))
    assert(Dialect.translate("SELECT DATE_TRUNC(d, MONTH)")
      .contains("CAST(date_trunc('MONTH', d) AS DATE)"))
    assert(Dialect.translate("SELECT DATE_TRUNC(d, WEEK(SUNDAY))")
      .contains("date_sub(d, dayofweek(d) - 1)"))
    // bare WEEK is Sunday-start in BigQuery — must NOT become Spark's
    // Monday-start date_trunc('WEEK', ...)
    assert(Dialect.translate("SELECT DATE_TRUNC(d, WEEK)")
      .contains("date_sub(d, dayofweek(d) - 1)"))
    assert(Dialect.translate("""SELECT "kw" IN UNNEST(keywords)""")
      .contains("""array_contains(keywords, "kw")"""))
    assert(Dialect.translate("WHERE x NOT IN UNNEST(arr)")
      .contains("NOT array_contains(arr, x)"))
    // single-arg SPLIT gets BigQuery's default comma delimiter
    assert(Dialect.translate("SELECT SPLIT(platforms)")
      .contains("split(platforms, ',', -1)"))
    // two-arg SPLIT: literal delimiter regex-escaped (BigQuery splits
    // on the literal; Spark's split takes a regex)
    assert(Dialect.translate("SELECT SPLIT(x, '.')")
      .contains("split(x, '\\\\.', -1)"))
    assert(Dialect.translate("SELECT SPLIT(x, '-')").contains("split(x, '-', -1)"))
  }

  test("translated SAFE_CAST and literal SPLIT execute (graphics_dashboard.sql:131,156 shapes)") {
    val sql = Dialect.translate(
      "SELECT SAFE_CAST('12' AS INT64) AS i, SAFE_CAST('x' AS FLOAT64) AS f, " +
        "SPLIT('124.0.6367', '.') AS parts FROM (SELECT 1)")
    val r = spark.sql(sql).collect().head
    assert(r.getLong(0) == 12L)
    assert(r.isNullAt(1)) // try_cast of non-numeric → NULL, no error
    assert(r.getSeq[String](2) == Seq("124", "0", "6367"))
  }

  test("QUALIFY followed by ORDER BY / LIMIT keeps them outside the predicate") {
    Seq((1, 3), (1, 1), (2, 5), (2, 4)).toDF("k", "v").createOrReplaceTempView("ql")
    val sql = Dialect.translate(
      """SELECT k, v FROM ql
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY k ORDER BY v DESC) = 1
        |ORDER BY k DESC LIMIT 1""".stripMargin)
    val got = spark.sql(sql).collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(got == Seq((2, 5)))
  }

  test("QUALIFY dedup translates and executes (graphics_dashboard.sql:165-169 shape)") {
    Seq((1, "2024-01-01 10:00:00", "a"), (1, "2024-01-02 10:00:00", "b"),
      (2, "2024-01-01 00:00:00", "c"))
      .toDF("client_id", "submission_timestamp", "v")
      .createOrReplaceTempView("sampled")
    val bq =
      """SELECT * FROM sampled
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY client_id ORDER BY submission_timestamp DESC) = 1""".stripMargin
    val translated = Dialect.translate(bq)
    val got = spark.sql(translated).select("client_id", "v")
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq((1, "b"), (2, "c")))
  }

  test("translated QUALIFY goes through WindowTopKRewrite (corpus-path proof)") {
    // The corpus path (CorpusLoader/Dialect → spark.sql) runs under the
    // same session-injected optimizer rule as Verify/Bench; prove the
    // translated QUALIFY ROW_NUMBER dedup idiom (graphics_dashboard
    // .sql:165-169, the reference's canonical W1 shape) actually FIRES
    // the rewrite: Dialect wraps QUALIFY as `(.., pred AS __q) WHERE
    // __q`, the optimizer inlines __q back into a rank comparison, and
    // the rule must still see through that shape.
    Seq((1, "2024-01-01 10:00:00", "a"), (1, "2024-01-02 10:00:00", "b"),
      (2, "2024-01-01 00:00:00", "c"))
      .toDF("client_id", "submission_timestamp", "v")
      .createOrReplaceTempView("q_pings")
    val translated = Dialect.translate(
      """SELECT * FROM q_pings
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY client_id ORDER BY submission_timestamp DESC, v) = 1""".stripMargin)
    val rewritten = spark.sql(translated)
    val plan = rewritten.queryExecution.optimizedPlan.toString
    assert(plan.contains("topk_rows"), s"rule did not fire on translated QUALIFY:\n$plan")
    assert(!plan.contains("Window"), s"window survived on translated QUALIFY:\n$plan")
    val got = rewritten.select("client_id", "v")
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq((1, "b"), (2, "c")))
  }

  test("real view translates and runs through ViewDag (user_reports_dedupe/view.sql:1-6)") {
    // fixture per FIXTURES.md A5 (duplicate uuids, min reported_at wins)
    Seq(("u1", "2024-01-02 00:00:00", "second"), ("u1", "2024-01-01 00:00:00", "first"),
      ("u2", "2024-01-05 00:00:00", "only"))
      .toDF("uuid", "raw_ts", "comments")
      .select(col("uuid"), to_timestamp(col("raw_ts")).as("reported_at"), col("comments"))
      .createOrReplaceTempView("user_reports_prod")
    // the reference view body, dialect-translated and ref()-rendered
    val body =
      """with report_keys AS (
        |  SELECT uuid, MIN(reported_at) as reported_at
        |  FROM {{ ref('user_reports_prod') }} GROUP BY uuid
        |)
        |SELECT * FROM {{ ref('user_reports_prod') }}
        |JOIN report_keys USING (uuid, reported_at)""".stripMargin
    ViewDag.deploy(spark, Seq(ViewDef("user_reports_dedupe", Dialect.translate(body))))
    val got = spark.table("user_reports_dedupe")
      .select("uuid", "comments").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq(("u1", "first"), ("u2", "only")))
  }

  test("features_latest view runs verbatim (struct ORDER BY + scalar subquery, view.sql:1-8)") {
    Seq(("124.0", (124, 0, 1)), ("125.0", (125, 0, 0)), ("123.9", (123, 9, 9)))
      .toDF("name", "version")
      .select(col("name"), struct(
        col("version._1").as("major"), col("version._2").as("minor"),
        col("version._3").as("patch")).as("version"))
      .createOrReplaceTempView("releases")
    Seq(("css-grid", "125.0"), ("flexbox", "124.0"), ("subgrid", "125.0"))
      .toDF("feature", "release").createOrReplaceTempView("features")
    val body =
      """SELECT *
        |FROM {{ ref('features') }} as features
        |WHERE features.release = (
        |  SELECT name
        |  FROM {{ ref('releases') }} as releases
        |  ORDER BY releases.version.major DESC, releases.version.minor DESC, releases.version.patch DESC
        |  LIMIT 1
        |)""".stripMargin
    ViewDag.deploy(spark, Seq(ViewDef("features_latest", Dialect.translate(body))))
    val got = spark.table("features_latest").select("feature")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(got == Seq("css-grid", "subgrid"))
  }

  test("GROUP BY alias rewrite bails out under star expansion and still executes") {
    // Spark binds GROUP BY ordinals AFTER star expansion, so rewriting
    // the alias to an ordinal here would silently group by the wrong
    // column. The translator must leave the alias untouched...
    val sql = "SELECT t.*, UPPER(name) AS a FROM t GROUP BY a, id, name"
    val out = Dialect.translate(sql)
    assert(out.contains("GROUP BY a, id, name"), s"alias must survive: $out")
    // ...and the untouched form must execute correctly on Spark (alias
    // resolution via spark.sql.groupByAliases) — not silently mis-group
    Seq((1L, "x"), (2L, "y"), (3L, "y")).toDF("id", "name")
      .createOrReplaceTempView("t")
    val rows = spark.sql(Dialect.translate(
        "SELECT UPPER(name) AS a, COUNT(*) AS n FROM t GROUP BY a"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows == Set(("X", 1L), ("Y", 2L)))
    // non-star select lists still get the ordinal rewrite
    val plain = Dialect.translate("SELECT UPPER(name) AS a FROM t GROUP BY a")
    assert(plain.contains("GROUP BY 1"), s"expected ordinal rewrite: $plain")
  }

  test("translated date functions execute (metric spine shape)") {
    val sql = Dialect.translate(
      "SELECT DATE_TRUNC(DATE '2024-02-14', MONTH) AS m, " +
        "DATE_TRUNC(DATE '2024-01-10', WEEK(SUNDAY)) AS w, " +
        "COUNTIF(1 = 1) AS c FROM (SELECT 1)")
    val r = spark.sql(sql).collect().head
    assert(r.getDate(0).toString == "2024-02-01")
    assert(r.getDate(1).toString == "2024-01-07")
    assert(r.getLong(2) == 1L)
  }
}
