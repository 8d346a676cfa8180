package graft.dag

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.catalog.TomlSchema
import JinjaLite.{V, VFunc, VStr}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Loader for the reference's on-disk SQL corpus — the analog of
  * `load_templates` + `TableSchemaCreator` (projectdata.py:455-562) and
  * the deploy pass of update_schema.py: walk
  * `sql/<dataset>/{tables,views,routines}/<name>/`, render each template
  * through JinjaLite with the metrics/ranks context (projectdata.py:
  * 463-469 `template_globals`), then
  *
  *   - tables:   table.toml → [[TomlSchema.tableSchema]] → empty typed
  *               DataFrame registered as a temp view (schema-only stand-in
  *               for the warehouse table — enough for full analysis),
  *   - routines: routine.sql (BigQuery `CREATE OR REPLACE FUNCTION …
  *               AS (body)`) → Spark SQL UDF DDL (`… RETURN body`),
  *   - views:    view.sql → [[Dialect.translate]] → temp view,
  *
  * in DFS-postorder over `ref()` dependencies. BigQuery's
  * `dataset.name` two-level namespace is flattened to `dataset__name`
  * (Spark temp views/functions are single-level); `ref` is bound as a
  * Jinja *function* in the context so both the literal `ref('x')` form
  * and the routine-template `ref(name)` variable form resolve.
  *
  * Registering a view = one `spark.sql(...).createOrReplaceTempView` —
  * lazy logical plans, so the whole 160-object corpus deploys in
  * milliseconds and Catalyst optimizes across view boundaries when a
  * consumer runs (the scale win over materialize-per-view).
  */
object CorpusLoader {

  final case class CorpusObject(
      dataset: String, name: String, kind: String, // "table" | "view" | "routine"
      template: String, metaToml: Option[String]) {
    def qualName: String = qual(dataset, name)
  }

  final case class DeployOutcome(dataset: String, name: String, kind: String,
      ok: Boolean, error: Option[String], note: Option[String] = None)

  final case class CorpusResult(objects: Seq[CorpusObject], outcomes: Seq[DeployOutcome]) {
    def failures: Seq[DeployOutcome] = outcomes.filterNot(_.ok)
  }

  def qual(dataset: String, name: String): String = s"${dataset}__$name"

  /** Resolve a `ref()` target seen from `dataset`: a bare name is
    * same-dataset, a dotted name is dataset-qualified, and a three-part
    * `project.dataset.table` name is an external-project table
    * (projectdata.py SchemaId resolution + schema_id_mapper). All forms
    * flatten to a single-level identifier (`-` in project ids is not
    * temp-view-safe). */
  def resolveRef(dataset: String, target: String): String =
    target.split('.') match {
      case Array(name) => qual(dataset, name)
      case parts => parts.map(_.replace('-', '_')).mkString("__")
    }

  /** Schemas for tables the corpus reads from OUTSIDE the project —
    * pre-existing in the reference's warehouse, so the deploy only needs
    * a typed stand-in. Columns are the ones the corpus actually touches:
    * user_reports_dedupe/view.sql (uuid, reported_at + SELECT *) and
    * etl/user_reports_aggregate.py:36-43 (url, app_name, app_version,
    * breakage_category). */
  val externalSchemas: Map[String, org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types._
    Map(
      "moz_fx_data_shared_prod__org_mozilla_broken_site_report__user_reports" ->
        StructType(Seq(
          StructField("uuid", StringType),
          StructField("reported_at", TimestampType),
          StructField("url", StringType),
          StructField("comments", StringType),
          StructField("details", StringType),
          StructField("app_name", StringType),
          StructField("app_version", StringType),
          StructField("breakage_category", StringType))),
      // Maintained by a separate pipeline, not the SQL corpus; columns
      // are the ones its 5 consumer views join/select
      // (e.g. site_reports/view.sql:33, core_bug_states/view.sql:12).
      "webcompat_knowledge_base__bugzilla_components_ownership" ->
        StructType(Seq(
          StructField("bugzilla_product", StringType),
          StructField("bugzilla_component", StringType),
          StructField("team", StringType),
          StructField("manager", StringType))),
      // Score-weight lookup dim (scored_site_reports/view.sql:20-60 and
      // the WEBCOMPAT_METRIC_SCORE_* routines read lookup_type,
      // lookup_value, score).
      "webcompat_knowledge_base__dim_bug_score" ->
        StructType(Seq(
          StructField("lookup_type", StringType),
          StructField("lookup_value", StringType),
          StructField("score", DecimalType(38, 9)))),
      // Platform feature planning table (platform_priorities/view.sql
      // and the priority-scores pair read these; all value columns are
      // compared against string literals there, so STRING throughout).
      "webcompat_knowledge_base__platform_features" ->
        StructType(Seq(
          StructField("bug", LongType),
          StructField("name", StringType),
          StructField("feature", StringType),
          // size_estimate deliberately absent: bugzilla_bugs provides it
          // (platform_priorities selects it bare — ambiguous otherwise)
          StructField("has_polyfill", StringType),
          StructField("cosmetic_only", StringType),
          StructField("partner_request", StringType),
          StructField("a11y_impact", StringType),
          StructField("privacy_impact", StringType),
          StructField("performance_impact", StringType),
          StructField("gecko_priority", StringType),
          StructField("state_of", StringType),
          StructField("chrome_use_counter_override", StringType),
          StructField("other_dev_interest", StringType))),
      // Spreadsheet-imported risk table (parity_chrome_safari_bugs/
      // view.sql reads these columns verbatim).
      "webcompat_risks__chrome_safari_parity" ->
        StructType(Seq(
          StructField("Bugzilla_Bug_Number", LongType),
          StructField("Risk_Priority", StringType),
          StructField("Standards_Position", StringType),
          StructField("interop_risk", StringType),
          StructField("chrome_counters", StringType),
          StructField("Github_usage_query", StringType),
          StructField("Likely_Dev_Frustration_When_Encountered", StringType),
          StructField("Has_Fallbacks__Polyfills__Workarounds_", StringType),
          StructField("Likely_Greatest_User_Impact", StringType))))
  }

  // ---- filesystem walk -------------------------------------------------

  private def readIfExists(p: Path): Option[String] =
    if (Files.isRegularFile(p)) Some(Files.readString(p)) else None

  /** Walk the corpus tree (load_templates, projectdata.py:515-562). */
  def scan(sqlRoot: Path): Seq[CorpusObject] = {
    val datasets = Files.list(sqlRoot).iterator().asScala.toSeq
      .filter(d => Files.isDirectory(d) && Files.isRegularFile(d.resolve("meta.toml")))
      .sortBy(_.getFileName.toString)
    datasets.flatMap { datasetDir =>
      val dsName = TomlSchema.tableName(Files.readString(datasetDir.resolve("meta.toml")))
        .getOrElse(datasetDir.getFileName.toString)
      Seq("tables" -> "table", "views" -> "view", "routines" -> "routine").flatMap {
        case (subdir, kind) =>
          val dir = datasetDir.resolve(subdir)
          val objDirs =
            if (Files.isDirectory(dir))
              Files.list(dir).iterator().asScala.toSeq.filter(Files.isDirectory(_))
                .sortBy(_.getFileName.toString)
            else Nil
          objDirs.flatMap { objDir =>
            val meta = readIfExists(objDir.resolve("meta.toml"))
            val name = meta.flatMap(TomlSchema.tableName)
              .getOrElse(objDir.getFileName.toString)
            val templateFile = kind match {
              case "table" => "table.toml"
              case "view" => "view.sql"
              case "routine" => "routine.sql"
            }
            readIfExists(objDir.resolve(templateFile))
              .map(t => CorpusObject(dsName, name, kind, t, meta))
          }
      }
    }
  }

  // ---- Jinja rendering -------------------------------------------------

  /** Per-object ref pinning: archive snapshots were captured against the
    * routine signatures of their day and are never redeployed (the
    * reference's treehash short-circuit), so a snapshot may call a
    * routine whose CURRENT signature no longer matches. Pin such refs to
    * the archived contemporaneous variant. */
  val refRemaps: Map[(String, String), String] = Map(
    // calls SITE_RANK_MODIFIER with the pre-202505 (url, yyyymm) arity
    ("webcompat_knowledge_base_archive__scored_site_reports_before_rescore_crux_202512",
      "webcompat_knowledge_base.WEBCOMPAT_METRIC_SCORE_SITE_RANK_MODIFIER") ->
      "webcompat_knowledge_base.WEBCOMPAT_METRIC_SCORE_SITE_RANK_MODIFER_before_202505201534")

  /** Ref resolution for one object, remap-aware. */
  def resolveRefFor(obj: CorpusObject, target: String): String =
    resolveRef(obj.dataset, refRemaps.getOrElse((obj.qualName, target), target))

  /** Template context for one object: the shared metrics/ranks globals
    * plus per-object `name`/`dataset` bindings and `ref` as a resolving
    * function. */
  def templateContext(base: Map[String, V], obj: CorpusObject): Map[String, V] =
    base ++ Map(
      "name" -> VStr(obj.name),
      "dataset" -> VStr(obj.dataset),
      "ref" -> VFunc { args =>
        VStr(resolveRefFor(obj, args.head match {
          case VStr(s) => s
          case other => sys.error(s"ref() expects a string, got $other")
        }))
      })

  /** Load the shared Jinja globals from the metrics.toml / ranks.toml
    * pair under `data/metrics` (projectdata.py:463-469). */
  def metricsContext(dataRoot: Path): Map[String, V] = {
    val metrics = MetricDefs.loadMetrics(Files.readString(dataRoot.resolve("metrics/metrics.toml")))
    val ranks = MetricDefs.loadRanks(Files.readString(dataRoot.resolve("metrics/ranks.toml")))
    MetricDefs.context(metrics, ranks)
  }

  // ---- routine DDL translation ----------------------------------------

  private val createFnPattern =
    """(?is)\s*CREATE\s+OR\s+REPLACE\s+FUNCTION\s+`?([\w.]+)`?\s*\(""".r

  /** BigQuery `CREATE OR REPLACE FUNCTION f(args) RETURNS T AS (body);`
    * → Spark `CREATE OR REPLACE TEMPORARY FUNCTION f(args) RETURNS T'
    * RETURN body` (Spark 4 SQL UDFs inline into the calling plan). The
    * body goes through [[Dialect.translate]] like any view SQL, unless
    * an [[routineOverrides]] body replaces it. */
  def translateRoutine(rendered: String, overrideBody: Option[String] = None): String = {
    val m = createFnPattern.findFirstMatchIn(rendered)
      .getOrElse(sys.error(s"Routine does not parse as CREATE OR REPLACE FUNCTION: ${rendered.take(120)}"))
    val fnName = m.group(1)
    val argsStart = m.end // just after '('
    val argsEnd = matchParen(rendered, argsStart - 1)
    val args = rendered.substring(argsStart, argsEnd)
    val rest = rendered.substring(argsEnd + 1)
    val asIdx = topLevelAsIndex(rest)
    require(asIdx >= 0, s"Routine missing AS (body): ${rendered.take(120)}")
    val returns = rest.substring(0, asIdx).trim
    require(returns.toUpperCase.startsWith("RETURNS"),
      s"Routine missing RETURNS clause: ${rendered.take(120)}")
    val afterAs = rest.substring(asIdx + 2)
    val bodyStart = afterAs.indexOf('(')
    require(bodyStart >= 0, s"Routine AS not followed by (body): ${rendered.take(120)}")
    val bodyEnd = matchParen(afterAs, bodyStart)
    val body = afterAs.substring(bodyStart + 1, bodyEnd)
    val sparkArgs = translateTypes(args)
    val sparkReturns = translateTypes(returns)
    val sparkBody = overrideBody.getOrElse(Dialect.translate(body))
    s"CREATE OR REPLACE TEMPORARY FUNCTION `$fnName`($sparkArgs)\n$sparkReturns\nRETURN $sparkBody"
  }

  /** BigQuery type spellings in arg lists / RETURNS clauses → Spark.
    * JSON has no Spark type — the corpus stores JSON columns as STRING
    * and reads them with JSON_VALUE (get_json_object), so STRING is the
    * faithful mapping. */
  private def translateTypes(s: String): String = {
    var t = s
    t = t.replaceAll("(?i)\\bINT64\\b", "BIGINT")
    t = t.replaceAll("(?i)\\bFLOAT64\\b", "DOUBLE")
    t = t.replaceAll("(?i)\\bNUMERIC\\b", "DECIMAL(38,9)")
    t = t.replaceAll("(?i)\\bBIGNUMERIC\\b", "DECIMAL(38,9)")
    t = t.replaceAll("(?i)\\bJSON\\b", "STRING")
    t = t.replaceAll("(?i)\\bBYTES\\b", "BINARY")
    t = t.replaceAll("(?i)\\bBOOL\\b", "BOOLEAN")
    t = t.replaceAll("(?i)\\bDATETIME\\b", "TIMESTAMP_NTZ")
    t
  }

  /** Spark bodies for routines whose BigQuery form — a scalar subquery
    * correlated on the function's own arguments — has no Spark SQL UDF
    * equivalent (Spark rejects outer references inside UDF subqueries,
    * and subqueries inside higher-order functions). Two classes:
    *
    *   - WEBCOMPAT_HOST / BUG_ID_FROM_BUGZILLA_URL use the subquery only
    *     to name intermediate expressions → inlined here with the
    *     semantics of graft.functions.Routines.
    *   - The WEBCOMPAT_METRIC_SCORE_* family aggregates over warehouse
    *     tables per call. The engine's scalable translation is the
    *     decorrelated join (jobs/Webcompat.scala, oracle-checked q105);
    *     the UDF here carries the argument-only branches plus the value
    *     the original returns when the dim tables are empty — exactly
    *     what this deploy's schema-only stand-in tables would produce —
    *     so every call site type-checks and analyzes faithfully.
    *
    * Keys are routine names (meta.toml `name`); bodies are Spark SQL
    * placed after RETURN verbatim. Cross-routine calls use flattened
    * deployed names. */
  val routineOverrides: Map[String, String] = {
    val extractArray = "`webcompat_knowledge_base__EXTRACT_ARRAY`"
    // argument-only branches of WEBCOMPAT_METRIC_SCORE_SITE_RANK_MODIFIER
    // (routine.sql: the `site_rank_override.ranks` arms of the CASE, in
    // original order; rank-table arms are NULL on empty host_min_ranks)
    def overrideCase(ranks: String): String =
      s"""CAST(CASE
         |  WHEN array_contains($ranks, 'global-1k') THEN 15
         |  WHEN array_contains($ranks, 'core-1k') THEN 10
         |  WHEN array_contains($ranks, 'global-10k') THEN 7.5
         |  WHEN array_contains($ranks, 'local-1k') THEN 5
         |  WHEN array_contains($ranks, 'core-10k') THEN 5
         |  WHEN array_contains($ranks, 'local-10k') THEN 2.5
         |  ELSE 1 END AS DECIMAL(38,9))""".stripMargin
    Map(
      // routines/WEBCOMPAT_HOST/routine.sql — www./m. prefix strip.
      // NET.HOST is best-effort on scheme-less input (crux host_min_ranks
      // stores bare hostnames), so default a scheme in before parse_url.
      "WEBCOMPAT_HOST" ->
        """CASE WHEN startswith(parse_url(IF(contains(url, '://'), url, concat('http://', url)), 'HOST'), 'www.')
          |       THEN substring(parse_url(IF(contains(url, '://'), url, concat('http://', url)), 'HOST'), 5)
          |     WHEN startswith(parse_url(IF(contains(url, '://'), url, concat('http://', url)), 'HOST'), 'm.')
          |       THEN substring(parse_url(IF(contains(url, '://'), url, concat('http://', url)), 'HOST'), 3)
          |     ELSE parse_url(IF(contains(url, '://'), url, concat('http://', url)), 'HOST') END""".stripMargin,
      // routines/BUG_ID_FROM_BUGZILLA_URL/routine.sql — id= param extract
      "BUG_ID_FROM_BUGZILLA_URL" ->
        """try_cast(nullif(regexp_extract(
          |  regexp_extract(url, 'https://bugzilla\\.mozilla\\.org/show_bug\\.cgi\\?(.+)', 1),
          |  '(?:^|&)id=([^&#]+)', 1), '') AS BIGINT)""".stripMargin,
      // NO_SITE_RANK pair: replaced per-deploy by [[dimScoreOverrides]]
      // (dim-inlined real bodies when dim_bug_score has rows); these
      // entries only document the empty-dim value.
      "WEBCOMPAT_METRIC_SCORE_NO_SITE_RANK" -> "CAST(NULL AS DECIMAL(38,9))",
      "WEBCOMPAT_METRIC_SCORE_NO_SITE_RANK_before_202505201534" -> "CAST(NULL AS DOUBLE)",
      "WEBCOMPAT_METRIC_SCORE_SITE_RANK_MODIFIER" ->
        overrideCase(s"$extractArray(user_story, '$$.site-rank-override')"),
      // pre-202505 signature (url, crux_yyyymm): IFNULL(agg-over-empty, 1)
      "WEBCOMPAT_METRIC_SCORE_SITE_RANK_MODIFER_before_202505201534" -> "CAST(1 AS DECIMAL(38,9))",
      "WEBCOMPAT_METRIC_SCORE_SITE_RANK_MODIFIER_BEFORE_RESCORE_SITE_RANKS_UPDATE_202603" -> "CAST(1 AS DECIMAL(38,9))")
  }

  /** Real bodies for the WEBCOMPAT_METRIC_SCORE_NO_SITE_RANK pair,
    * built at deploy time by INLINING dim_bug_score's rows as a literal
    * array and folding it with `aggregate()` lambdas over the function
    * args. The originals (routines/WEBCOMPAT_METRIC_SCORE_NO_SITE_RANK/
    * routine.sql) are a product of conditional SUMs over dim_bug_score
    * correlated on the args — Spark SQL UDFs reject correlated
    * subqueries AND subqueries inside higher-order functions, but a dim
    * folded as a literal needs neither. dim_bug_score is a config dim
    * (dozens of rows at any corpus scale — it scores severities and
    * impact levels, not data), so the inlined body stays small; this is
    * deploy-time constant-broadcasting, the same trade a warehouse
    * deploy makes when it snapshots a routine against its day's config.
    * Over an empty dim the originals return NULL (SUM over zero rows),
    * matching the schema-only analyze deploys. */
  private def dimScoreOverrides(spark: SparkSession): Map[String, String] = {
    val noRank = "WEBCOMPAT_METRIC_SCORE_NO_SITE_RANK"
    val noRankOld = "WEBCOMPAT_METRIC_SCORE_NO_SITE_RANK_before_202505201534"
    val dim = qual("webcompat_knowledge_base", "dim_bug_score")
    val rows =
      if (spark.catalog.tableExists(dim))
        spark.table(dim)
          .selectExpr("lookup_type", "lookup_value", "CAST(score AS DECIMAL(38,9)) AS score")
          .filter("lookup_type IS NOT NULL AND lookup_value IS NOT NULL AND score IS NOT NULL")
          .collect()
      else Array.empty[Row]
    if (rows.isEmpty)
      Map(noRank -> "CAST(NULL AS DECIMAL(38,9))", noRankOld -> "CAST(NULL AS DOUBLE)")
    else {
      def esc(s: String) = s.replace("\\", "\\\\").replace("'", "\\'")
      val lit = rows.map { r =>
        s"named_struct('t', '${esc(r.getString(0))}', 'v', '${esc(r.getString(1))}', " +
          s"'s', CAST(${r.getDecimal(2).toPlainString} AS DECIMAL(38,9)))"
      }.mkString("array(", ", ", ")")
      // decimal addition widens (38,9)+(38,9) → (38,8), so the fold
      // result must be cast back to the accumulator's type
      def term(cond: String) =
        s"aggregate($lit, CAST(0 AS DECIMAL(38,9)), (acc, w) -> CAST(acc + IF($cond, w.s, CAST(0 AS DECIMAL(38,9))) AS DECIMAL(38,9)))"
      val d = "$" // JSON paths, kept out of the interpolator
      val impact = term(s"w.t = 'impact' AND w.v = get_json_object(user_story, '$d.impact')")
      val platform = term(s"w.t = 'platform' AND array_contains(split(get_json_object(user_story, '$d.platform'), ','), w.v)")
      val config = term(s"w.t = 'configuration' AND w.v = IFNULL(get_json_object(user_story, '$d.configuration'), 'general')")
      val affects = term(s"w.t = 'users_affected' AND w.v = IFNULL(get_json_object(user_story, '$d.affects'), 'all')")
      val patch = term("w.t = 'patch_applied' AND w.v = IF(array_contains(keywords, 'webcompat:sitepatch-applied'), " +
        "IF(array_contains(keywords, 'webcompat:platform-bug'), 'platform-bug', 'site-bug'), 'none')")
      val branch = term(s"w.t = 'branch' AND w.v = IFNULL(get_json_object(user_story, '$d.branch'), 'release')")
      val patchOld = term("w.t = 'patch_applied' AND w.v = IF(array_contains(keywords, 'webcompat:sitepatch-applied'), '1', '0')")
      Map(
        noRank -> s"CAST($impact * $platform * $config * $affects * $patch * $branch AS DECIMAL(38,9))",
        noRankOld -> s"CAST($impact * $platform * $config * $affects * $patchOld AS DOUBLE)")
    }
  }

  /** Index of the ')' matching the '(' at `open`. */
  private def matchParen(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    sys.error(s"Unbalanced parens from $open in: ${s.take(120)}")
  }

  /** First top-level `AS` keyword (outside parens/angle-brackets, so
    * `RETURNS STRUCT<a: STRING>` survives). */
  private def topLevelAsIndex(s: String): Int = {
    var depth = 0
    var i = 0
    val upper = s.toUpperCase
    while (i < s.length) {
      s.charAt(i) match {
        case '(' | '<' => depth += 1
        case ')' | '>' => depth -= 1
        case _ =>
          if (depth == 0 && upper.startsWith("AS", i) &&
            (i == 0 || !Character.isLetterOrDigit(s.charAt(i - 1))) &&
            (i + 2 >= s.length || !Character.isLetterOrDigit(s.charAt(i + 2))))
            return i
      }
      i += 1
    }
    -1
  }

  // ---- deploy ----------------------------------------------------------

  /** Deploy the whole corpus into the session: every table as a
    * schema-typed temp view (empty by default, or `rowsPerTable`
    * [[SyntheticRows]] each for the execution sweep), every routine as a
    * SQL UDF, every view as a temp view, in dependency order. Never
    * throws on a per-object failure — failures are returned in the
    * outcomes for the sweep spec to assert on.
    *
    * `storeAnalyzed = true` (the fast path for the ANALYZE-ONLY q108
    * sweep — 5.5 s vs 16.5 s for the 64-view tree, because parsed-plan
    * temp views re-analyze their whole expanded upstream chain at every
    * CREATE, quadratic in chain depth) is NOT execution-safe: when a
    * stored-analyzed view chain embeds nested `WithCTE` nodes, Spark's
    * `InlineCTE`/`DeduplicateRelations` crash at optimization time
    * ("Invalid call to exprId on unresolved object" on the corpus;
    * `key not found` on a 3-view minimal repro — a Spark 4.1 bug).
    * Any deploy whose views will be EXECUTED (q109, CorpusExecSpec)
    * must use `storeAnalyzed = false`; with `rowsPerTable > 0` the
    * stand-ins carry [[SyntheticRows]] data either way. */
  def deploy(spark: SparkSession, dataRoot: Path, rowsPerTable: Int = 0,
      storeAnalyzed: Boolean = false): CorpusResult =
    withStoreConf(spark, storeAnalyzed) {
      deployInner(spark, dataRoot, rowsPerTable, materializeCap = None)._1
    }

  /** Fused deploy + execution sweep (the q109 shape): each view is
    * MATERIALIZED the moment it deploys, so the next view's CREATE-time
    * analysis — and its execution — bind to a local relation instead of
    * re-expanding the whole upstream parsed-view tree. The staged
    * `deploy(...)` then `executeAll(...)` pays that deep re-analysis
    * TWICE per view (once at CREATE, once in `widenViewSql`) before
    * execution even starts; fusing collapses deploy analysis, widening
    * analysis, and execution all to O(views). Results are identical:
    * materialization order is the same topological order either way. */
  def deployAndExecute(spark: SparkSession, dataRoot: Path, rowsPerTable: Int,
      capRows: Int = 100000): (CorpusResult, Seq[ExecOutcome]) = {
    // Fixture-mode execution runs 64 distinct large view plans over ~64
    // rows each: Janino compilation of 64 one-shot WholeStageCodegen
    // stages is the dominant cost, not execution — interpret instead.
    // A real-scale run (big rowsPerTable / warehouse tables) would keep
    // codegen on, so gate on the fixture size. Scoped + restored.
    val fixtureConfs: Map[String, String] =
      if (rowsPerTable <= 1024)
        Map("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
          "spark.sql.shuffle.partitions" -> "4")
      else Map.empty
    withConfs(spark, fixtureConfs +
        ("spark.sql.legacy.storeAnalyzedPlanForView" -> "false")) {
      deployInner(spark, dataRoot, rowsPerTable, materializeCap = Some(capRows))
    }
  }

  /** Stable content hash of the whole corpus source tree: every file
    * under `sql/` and `metrics/` (templates, schema toml, metrics/ranks
    * globals — everything that feeds rendering), hashed as sorted
    * (relative path, bytes). The filesystem-level analog of
    * [[ViewDag.treeHash]] and of the reference's treehash gate
    * (update_schema.py): any byte change anywhere in the tree changes
    * the hash. */
  def corpusTreeHash(dataRoot: Path): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Seq("sql", "metrics").map(dataRoot.resolve).filter(Files.isDirectory(_))
      .foreach { root =>
        val it = Files.walk(root)
        try {
          val files = mutable.ArrayBuffer[Path]()
          it.filter(Files.isRegularFile(_)).forEach(p => { files += p; () })
          files.sortBy(p => dataRoot.relativize(p).toString).foreach { p =>
            md.update(dataRoot.relativize(p).toString.getBytes("UTF-8"))
            md.update(0.toByte)
            md.update(Files.readAllBytes(p))
            md.update(0.toByte)
          }
        } finally it.close()
      }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Per-session cache of the last fused exec sweep, keyed by
    * (corpus tree hash, fixture params). Weak session keys: dropping a
    * session drops its entry. */
  private val execCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      (String, (CorpusResult, Seq[ExecOutcome]))]())

  /** [[deployAndExecute]] behind the reference's treehash short-circuit
    * (update_schema.py: an unchanged tree is not redeployed): the first
    * sweep in a session pays the full deploy + materialization; every
    * following sweep over a byte-identical corpus returns the recorded
    * outcomes after one tree walk. This is the production re-deploy
    * path — a scheduler re-running the sweep against an unchanged
    * repository should cost a hash, not 160 CREATEs and 64 view
    * executions — and any byte change anywhere in `sql/` or `metrics/`
    * invalidates (CorpusCacheSpec pins both directions). */
  def deployAndExecuteCached(spark: SparkSession, dataRoot: Path,
      rowsPerTable: Int,
      capRows: Int = 100000): (CorpusResult, Seq[ExecOutcome]) = {
    val key = s"${corpusTreeHash(dataRoot)}|$rowsPerTable|$capRows"
    val hit = execCache.get(spark)
    if (hit != null && hit._1 == key) hit._2
    else {
      val result = deployAndExecute(spark, dataRoot, rowsPerTable, capRows)
      execCache.put(spark, (key, result))
      result
    }
  }

  /** Drop the session's cached exec sweep so the next
    * [[deployAndExecuteCached]] pays the full deploy + materialization.
    * Bench calls this before every timed q109 run: without it, min-of-2
    * timing always records the second run's treehash hit and the real
    * fused deploy+execute path is no longer performance-gated. */
  def clearExecCache(spark: SparkSession): Unit = execCache.remove(spark)

  private def withStoreConf[A](spark: SparkSession, storeAnalyzed: Boolean)(f: => A): A =
    withConfs(spark,
      Map("spark.sql.legacy.storeAnalyzedPlanForView" -> storeAnalyzed.toString))(f)

  /** Run `f` with session confs set, restoring previous values on exit. */
  private def withConfs[A](spark: SparkSession, confs: Map[String, String])(f: => A): A = {
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def deployInner(spark: SparkSession, dataRoot: Path, rowsPerTable: Int,
      materializeCap: Option[Int]): (CorpusResult, Seq[ExecOutcome]) = {
    val objects = scan(dataRoot.resolve("sql"))
    val base = metricsContext(dataRoot)
    val outcomes = mutable.ArrayBuffer[DeployOutcome]()
    val execs = mutable.ArrayBuffer[ExecOutcome]()
    // Stand-in schemas are registered fully-nullable (fields nullable,
    // array elements containsNull) even though the generator honors the
    // strict schema's REQUIRED modes: temp views pin their CREATE-time
    // schema and add compensation casts on re-resolution, and parquet
    // reads force-widen nullability — a strict CREATE-time schema would
    // make every post-materialization consumer fail its cast back
    // (CANNOT_UP_CAST on byte-identical types differing only in
    // nullability). Warehouse tables are nullable-typed for the same
    // reason.
    def standIn(qual: String, schema: org.apache.spark.sql.types.StructType): DataFrame = {
      val wide = widen(schema).asInstanceOf[org.apache.spark.sql.types.StructType]
      if (rowsPerTable > 0)
        spark.createDataFrame(
          java.util.Arrays.asList(SyntheticRows.rows(qual, schema, rowsPerTable): _*), wide)
      else spark.createDataFrame(java.util.Collections.emptyList[Row](), wide)
    }

    // 1. Tables: schema-typed stand-ins. No dependencies.
    val tables = objects.filter(_.kind == "table")
    tables.foreach { obj =>
      outcomes += attempt(obj) {
        val rendered = JinjaLite.render(obj.template, templateContext(base, obj))
        val schema = TomlSchema.tableSchema(rendered, obj.metaToml).toStructType
        standIn(obj.qualName, schema).createOrReplaceTempView(obj.qualName)
      }
    }

    // 2. External-project tables: typed stand-ins for refs that resolve
    // outside the corpus (the reference's schema_id_mapper boundary).
    val knownQuals = objects.map(_.qualName).toSet
    val externalRefs = objects.flatMap(o =>
      ViewDag.extractRefs(o.template).map(resolveRefFor(o, _))).distinct
      .filterNot(knownQuals.contains)
    externalRefs.foreach { q =>
      val schema = externalSchemas.getOrElse(q,
        sys.error(s"No stand-in schema for external ref '$q'"))
      standIn(q, schema).createOrReplaceTempView(q)
    }

    // 3. Routines + views, DFS-postorder over ref() edges extracted from
    // the *raw* templates (quoted-literal refs only; the routine
    // self-ref `ref(name)` carries no dependency). Overrides are
    // resolved now — the dim-inlined score routines read the
    // just-registered dim_bug_score stand-in.
    val overrides = routineOverrides ++ dimScoreOverrides(spark)
    val deployable = objects.filterNot(_.kind == "table")
    val byQual = deployable.map(o => o.qualName -> o).toMap
    val deps: Map[String, Seq[String]] = deployable.map { o =>
      o.qualName -> ViewDag.extractRefs(o.template).map(resolveRefFor(o, _))
        .filter(q => byQual.contains(q) && q != o.qualName)
    }.toMap
    val order = topoOrder(deployable.map(_.qualName), deps)

    // DAG-parallel deploy: each object deploys (and, in fused mode,
    // materializes) the moment its dependencies finish — independent
    // branches (the archive datasets, sibling metric chains) run
    // concurrently. The expensive part at fixture scale is per-view
    // driver-side analysis/optimization/codegen of large plans, which is
    // CPU-bound per query and parallelizes cleanly across threads; on a
    // real warehouse the same structure overlaps independent CTAS jobs.
    // Spark's temp-view and function registries are synchronized, and
    // every dependency is fully deployed+materialized before a consumer
    // starts, so results are identical to the sequential order.
    // 8 threads measured best: wider pools contend on the synchronized
    // SessionCatalog during analysis and run SLOWER (16 threads ≈ 2×
    // worse on the fixture sweep).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(2, math.min(8, Runtime.getRuntime.availableProcessors)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val idx = order.zipWithIndex.toMap
    val outArr = new Array[DeployOutcome](order.size)
    val execBuf = mutable.ArrayBuffer[ExecOutcome]()
    val futures = mutable.Map[String, scala.concurrent.Future[Unit]]()
    order.foreach { name =>
      val obj = byQual(name)
      // topo order guarantees every dep's future already exists
      val depsDone = scala.concurrent.Future.sequence(deps(name).flatMap(futures.get))
      futures(name) = depsDone.map { _ => processOne(obj) }
    }

    def processOne(obj: CorpusObject): Unit = {
      val overrideBody = if (obj.kind == "routine") overrides.get(obj.name) else None
      val note = overrideBody.map(_ => "spark-native override body (see routineOverrides)")
      // Fused sweep: the view's ONE analyzed DataFrame, reused by the
      // materialization step below (r17). The staged path analyzed each
      // view up to three times per deploy — widenViewSql's schema probe,
      // the CREATE's analysis, spark.table() at materialization — and at
      // fixture scale that driver-side Catalyst work WAS q109's cost
      // (8c/32c scaling ratio 0.75 in BENCH_r16). Since the fused sweep
      // replaces the view with its materialized rows immediately, no
      // consumer ever resolves the parsed view, so skipping the CREATE
      // changes nothing downstream; the nullability-widening cast is the
      // same projection widenViewSql wrapped in SQL.
      var fusedDf: Option[DataFrame] = None
      val outcome = attempt(obj, note) {
        val rendered = JinjaLite.render(obj.template, templateContext(base, obj))
        obj.kind match {
          case "routine" =>
            // reference refuses malformed routines (update_schema.py:254)
            val shapeErrors = CorpusLint.validateRoutineSql(obj.qualName, rendered)
            require(shapeErrors.isEmpty, shapeErrors.mkString("; "))
            spark.sql(translateRoutine(rendered, overrideBody))
          case "view" if materializeCap.isDefined =>
            val df0 = spark.sql(Dialect.translate(rendered))
            fusedDf = Some(if (rowsPerTable > 0) widenDf(df0) else df0)
          case "view" =>
            val sql0 = Dialect.translate(rendered)
            val sql = if (rowsPerTable > 0) widenViewSql(spark, sql0) else sql0
            // CREATE TEMP VIEW stores the *parsed* plan, so every
            // reference re-analyzes with fresh expression ids — a
            // DataFrame-plan temp view would reuse ids and trip
            // lateral-join deduplication when a view with laterals is
            // joined twice. Analysis of the body runs at CREATE (broken
            // views fail here, not at first use), so no extra analysis
            // pass is needed — with deep view chains each analysis
            // re-expands the whole upstream tree, so a redundant
            // per-view pass doubles the corpus deploy time.
            try {
              spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW `${obj.qualName}` AS $sql")
            } catch {
              // archive snapshots may expose duplicate output columns
              // (their base views gained the column after archival);
              // BigQuery kept the stored schema — a DataFrame-plan view
              // tolerates the duplicate the same way
              case e: Exception if Option(e.getMessage).exists(_.contains("COLUMN_ALREADY_EXISTS")) =>
                spark.sql(sql).createOrReplaceTempView(obj.qualName)
            }
        }
      }
      outArr(idx(obj.qualName)) = outcome
      // Fused sweep: swap the just-created view for its collected result
      // right away, keeping every downstream analysis/execution shallow.
      // A failed materialization leaves a live view in place (same as
      // the staged sweep) so downstream views still deploy and run.
      materializeCap.foreach { cap =>
        if (obj.kind == "view" && outcome.ok) {
          val t0 = System.nanoTime()
          val eo = try {
            val n = materializeFixture(fusedDf.get, obj.qualName, cap)
            ExecOutcome(obj.dataset, obj.name, ok = true, n, None,
              (System.nanoTime() - t0) / 1000000)
          } catch {
            case e: Throwable =>
              // keep the failure-path contract: downstream views must
              // still resolve `qualName` — register the parsed view the
              // staged path would have left live (extra analyses only on
              // this rare path)
              try {
                val rendered = JinjaLite.render(obj.template, templateContext(base, obj))
                val sql0 = Dialect.translate(rendered)
                val sql = if (rowsPerTable > 0) widenViewSql(spark, sql0) else sql0
                spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW `${obj.qualName}` AS $sql")
              } catch { case _: Throwable => () }
              ExecOutcome(obj.dataset, obj.name, ok = false, -1L,
                Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(500)),
                (System.nanoTime() - t0) / 1000000)
          }
          execBuf.synchronized { execBuf += eo }
        }
      }
    }

    try
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futures.values.toSeq),
        scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
    // outcomes/execs surface in topological order, exactly as the
    // sequential loop produced them — executeAll's bottom-up contract
    // iterates outcome order
    outcomes ++= outArr
    execs ++= execBuf.sortBy(e => idx(qual(e.dataset, e.name)))
    (CorpusResult(objects, outcomes.toSeq), execs.toSeq)
  }

  /** Replace temp view `q` with an EXECUTOR-RESIDENT materialization of
    * its own rows (bounded by `capRows`); returns the row count. The
    * fixture-mode step shared by [[executeAll]] and the fused
    * [[deployAndExecute]].
    *
    * `localCheckpoint(eager)` computes the view once and pins its rows
    * in executor block storage (memory-and-disk), truncating the
    * lineage so every downstream view re-reads the materialized rows
    * instead of re-executing the DAG prefix — the same job the old
    * `limit.collect() + createDataFrame` round-trip did, but without
    * funnelling every view's rows through the driver (the engine's one
    * driver-side DAG bottleneck through r12; at a 100× corpus the
    * collect path serializes the whole intermediate state on one
    * process, while checkpoint blocks stay distributed). The cap stays
    * a hard contract: limit(cap+1) bounds the materialized size even
    * for a runaway view, and the count check still rejects overflow. */
  private def materializeFixture(spark: SparkSession, q: String, capRows: Int): Long =
    materializeFixture(spark.table(q), q, capRows)

  /** Fused-path variant: materialize an already-analyzed DataFrame
    * (no spark.table() re-analysis) and register the result as `q`. */
  private def materializeFixture(df: org.apache.spark.sql.DataFrame,
      q: String, capRows: Int): Long = {
    val matd = df.limit(capRows + 1).localCheckpoint(true)
    val n = matd.count()
    require(n <= capRows, s"result exceeded $capRows rows")
    matd.createOrReplaceTempView(q)
    n
  }

  /** Recursively nullable-widened type (array containsNull, struct field
    * nullability, map valueContainsNull). Nullability inside a DataType
    * is what view schema binding casts on — top-level StructField
    * nullability is not. */
  def widen(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case StructType(fs) =>
        StructType(fs.map(f => f.copy(dataType = widen(f.dataType), nullable = true)).toSeq)
      case ArrayType(e, _) => ArrayType(widen(e), containsNull = true)
      case MapType(k, v, _) => MapType(widen(k), widen(v), valueContainsNull = true)
      case other => other
    }
  }

  /** For execution deploys: wrap view SQL so outputs with strict nested
    * nullability (collect_list/array() produce containsNull=false) are
    * cast to their nullable-wide DDL form. Temp views pin their
    * CREATE-time schema and cast back on re-resolution, and parquet
    * materialization force-widens nullability — so a consumer of a
    * materialized view would otherwise fail CANNOT_UP_CAST on types
    * differing only in nested nullability. Costs one extra analysis per
    * view (only when the deploy will execute). Views with duplicate
    * output names (archive snapshots) are left unwrapped. */
  /** DataFrame form of [[widenViewSql]] for the fused sweep: the same
    * nullable-widening casts as a projection over the ALREADY-analyzed
    * plan, so the widening probe costs no second end-to-end analysis.
    * Views with duplicate output names (archive snapshots) are left
    * unwrapped, exactly like the SQL form. */
  private def widenDf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val schema = df.schema
    if (schema.fieldNames.distinct.length != schema.fieldNames.length) df
    else if (!schema.fields.exists(f => widen(f.dataType) != f.dataType)) df
    else df.select(schema.fields.map { f =>
      val c = df.col(s"`${f.name}`")
      if (widen(f.dataType) != f.dataType)
        c.cast(widen(f.dataType)).as(f.name)
      else c
    }.toSeq: _*)
  }

  private def widenViewSql(spark: SparkSession, sql: String): String = {
    val schema = spark.sql(sql).schema
    if (schema.fieldNames.distinct.length != schema.fieldNames.length) sql
    else {
      val needed = schema.fields.exists(f => widen(f.dataType) != f.dataType)
      if (!needed) sql
      else {
        val cols = schema.fields.map { f =>
          if (widen(f.dataType) != f.dataType)
            s"CAST(`${f.name}` AS ${f.dataType.sql}) AS `${f.name}`"
          else s"`${f.name}`"
        }.mkString(", ")
        s"SELECT $cols FROM (\n$sql\n)"
      }
    }
  }

  private def attempt(obj: CorpusObject, note: Option[String] = None)(f: => Unit): DeployOutcome =
    try { f; DeployOutcome(obj.dataset, obj.name, obj.kind, ok = true, None, note) }
    catch {
      case e: Throwable =>
        DeployOutcome(obj.dataset, obj.name, obj.kind, ok = false,
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(500)), note)
    }

  /** DFS-postorder topological sort with explicit edges (the flattened-
    * namespace sibling of [[ViewDag.topoSort]]); cycles error. */
  def topoOrder(names: Seq[String], deps: Map[String, Seq[String]]): Seq[String] = {
    val visiting = mutable.Set[String]()
    val done = mutable.LinkedHashSet[String]()
    def visit(n: String): Unit = {
      if (done.contains(n)) return
      if (!deps.contains(n)) return
      if (!visiting.add(n)) sys.error(s"Cycle detected at '$n'")
      deps(n).foreach(visit)
      visiting.remove(n)
      done.add(n)
    }
    names.foreach(visit)
    done.toSeq
  }

  // ---- execution sweep -------------------------------------------------

  final case class ExecOutcome(dataset: String, name: String, ok: Boolean,
      rows: Long, error: Option[String], millis: Long = 0L)

  /** Execute every successfully deployed view end-to-end (runs the whole
    * physical plan, unlike the analysis pass at CREATE). With
    * `deploy(…, rowsPerTable > 0)` this exercises the runtime surface
    * analysis can't reach: UDF bodies, casts under ANSI, regexes, JSON
    * paths, date parsing. Never throws; failures come back as outcomes.
    *
    * Views are MATERIALIZED bottom-up: outcomes arrive in deploy
    * (= topological) order, and after a view executes, its temp view is
    * replaced by its collected result, so every consumer reads a local
    * relation instead of re-running the upstream chain — the same shape
    * as a warehouse deploy materializing each object, and the difference
    * between O(views) and O(views × chain-size) work (the corpus's
    * priority-score views carry 7 decorrelated EXISTS + 4 scalar
    * subqueries each; live-chained they alone take >100 s at 40-row
    * fixtures). Requires a parsed-plan deploy (`storeAnalyzed = false`,
    * the default) so consumers re-bind to the materialized stand-in by
    * name. After the sweep the session's view names hold data snapshots;
    * redeploy to get live views back.
    *
    * Materialization has two modes:
    *   - `persistDir = None` (fixture mode): collect to a local
    *     relation, bounded by `capRows` (a view exceeding it fails its
    *     outcome). Right for the synthetic gate; rows never leave the
    *     driver otherwise.
    *   - `persistDir = Some(dir)` (warehouse mode, the 100 TB shape):
    *     each view writes parquet distributed and re-registers as a
    *     parquet scan — no driver materialization, downstream consumers
    *     get pushdown/pruning against columnar files, exactly what a
    *     scheduled `CREATE TABLE AS` deploy does on a cluster. */
  def executeAll(spark: SparkSession, result: CorpusResult,
      capRows: Int = 100000, persistDir: Option[Path] = None): Seq[ExecOutcome] =
    result.outcomes.filter(o => o.kind == "view" && o.ok).map { o =>
      val t0 = System.nanoTime()
      val q = qual(o.dataset, o.name)
      try {
        val df = spark.table(q)
        val n = persistDir match {
          case Some(dir) =>
            val path = dir.resolve(q).toString
            // archive snapshots can expose duplicate output columns
            // (base view evolved after archival); parquet refuses them —
            // keep the first occurrence, matching the archived stored
            // schema BigQuery kept
            val names = df.columns
            val out =
              if (names.distinct.length == names.length) df
              else {
                val tmp = df.toDF(names.indices.map(i => s"__c$i"): _*)
                val firstIdx = names.zipWithIndex.groupBy(_._1).map(_._2.head._2).toSeq.sorted
                tmp.select(firstIdx.map(i => tmp.col(s"__c$i").as(names(i))): _*)
              }
            out.write.mode("overwrite").parquet(path)
            // read back under the view's own schema: the parquet reader
            // infers array elements as nullable, and a widened
            // ARRAY<STRING> no longer up-casts into SQL UDF args typed
            // containsNull=false downstream
            val back = spark.read.schema(out.schema).parquet(path)
            back.createOrReplaceTempView(q)
            back.count()
          case None =>
            materializeFixture(spark, q, capRows)
        }
        ExecOutcome(o.dataset, o.name, ok = true, n, None,
          (System.nanoTime() - t0) / 1000000)
      } catch {
        case e: Throwable => ExecOutcome(o.dataset, o.name, ok = false, -1L,
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(500)),
          (System.nanoTime() - t0) / 1000000)
      }
    }

  /** Per-dataset execution summary — the q109 surface. `n_nonempty`
    * (views returning rows over the synthetic fixture) is deterministic
    * because [[SyntheticRows]] is, and guards against an all-empty
    * "success" where every join silently mismatches. */
  def execSummary(spark: SparkSession, execs: Seq[ExecOutcome]): DataFrame = {
    import spark.implicits._
    execs.groupBy(_.dataset).toSeq.map { case (ds, os) =>
      (ds, os.size.toLong, os.count(_.ok).toLong, os.count(_.rows > 0).toLong)
    }.sortBy(_._1).toDF("dataset", "n_views", "n_exec_ok", "n_nonempty")
  }

  /** Per-dataset sweep summary as a DataFrame — the q108 surface. */
  def sweepSummary(spark: SparkSession, result: CorpusResult): DataFrame = {
    import spark.implicits._
    val rows = result.outcomes
      .groupBy(o => (o.dataset, o.kind))
      .map { case ((ds, kind), os) =>
        (ds, kind, os.size.toLong, os.count(_.ok).toLong)
      }.toSeq.sortBy(r => (r._1, r._2))
    rows.toDF("dataset", "kind", "n_objects", "n_ok")
  }
}
