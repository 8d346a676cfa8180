package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's scalar SQL routines (SURVEY §2.9 F1/F2), re-expressed as
  * pure `Column` combinators. All stay inside Catalyst codegen — no Scala
  * closures in the row path, so they vectorize and survive pushdown.
  *
  * Reference: /root/reference/jobs/webcompat-kb/data/sql/
  * webcompat_knowledge_base/routines/<NAME>/routine.sql
  */
object Routines {

  /** WEBCOMPAT_HOST(url) — host with a leading "www." / "m." stripped.
    * (routines/WEBCOMPAT_HOST/routine.sql:1-12) */
  def webcompatHost(url: Column): Column = {
    val host = BqShims.netHost(url)
    when(host.startsWith("www."), expr_substr(host, 5))
      .when(host.startsWith("m."), expr_substr(host, 3))
      .otherwise(host)
  }
  private def expr_substr(c: Column, from: Int): Column =
    substring(c, from, Int.MaxValue)

  /** URL_PARSE(url) → STRUCT<scheme, host, path, query, fragment>
    * (routines/URL_PARSE/routine.sql:1-10). Mirrors the reference's regex
    * semantics (path defaults to "/", others null when absent). */
  def urlParse(url: Column): Column = {
    def ext(pattern: String): Column = {
      val e = regexp_extract(url, pattern, 1)
      when(e === "", lit(null).cast(StringType)).otherwise(e)
    }
    struct(
      ext("^([^:]+):").as("scheme"),
      ext("^[^:]+:/+([^/?#]+)").as("host"),
      coalesce(ext("^[^:]+:/+[^/]+([^#?]+)?"), lit("/")).as("path"),
      ext("[^#]*\\?([^#]+)").as("query"),
      ext("#(.*)").as("fragment")
    )
  }

  /** BUG_ID_FROM_BUGZILLA_URL(url) → nullable long id from the `id` query
    * parameter (routines/BUG_ID_FROM_BUGZILLA_URL/routine.sql:1-14). */
  def bugIdFromBugzillaUrl(url: Column): Column = {
    val qs = regexp_extract(url, "https://bugzilla\\.mozilla\\.org/show_bug\\.cgi\\?(.+)", 1)
    val id = regexp_extract(qs, "(?:^|&)id=([^&#]+)", 1)
    when(id === "", lit(null)).otherwise(id).try_cast("bigint")
  }

  /** EXTRACT_ARRAY(json, '$.path') → array<string> over an
    * already-parsed variant (see [[BqShims.jsonVariant]]), accepting
    * either an array or a bare scalar at the path, entries trimmed
    * (routines/EXTRACT_ARRAY/routine.sql:1-14). Both probes are binary
    * path reads of one parse. */
  def extractArrayV(v: Column, path: String): Column = {
    val arr = try_variant_get(v, path, "array<string>")
    val scalar = try_variant_get(v, path, "string")
    val chosen = when(arr.isNotNull, arr)
      .when(scalar.isNotNull, array(scalar))
      .otherwise(array().cast(ArrayType(StringType)))
    transform(chosen, e => trim(e))
  }

  /** WEBCOMPAT_BLOCKED_REASON(keywords, user_story)
    * (routines/WEBCOMPAT_BLOCKED_REASON/routine.sql:1-15). */
  def webcompatBlockedReason(keywords: Column): Column = {
    def has(k: String) = array_contains(keywords, k)
    when(has("webcompat:blocked-resources"), lit("resources"))
      .when(has("webcompat:blocked"),
        when(has("spec-needed"), lit("spec"))
          .when(has("webcompat:needs-diagnosis") && has("webcompat:needs-login"), lit("needs-login"))
          .when(has("webcompat:needs-contact"), lit("needs-contact"))
          .otherwise(lit("other")))
      .otherwise(lit(null).cast(StringType))
  }

  /** WEBCOMPAT_METRIC_SCORE_NO_SITE_RANK (F2 — correlated-subquery UDF,
    * routines/WEBCOMPAT_METRIC_SCORE_NO_SITE_RANK/routine.sql:1-12).
    *
    * The reference evaluates six SUM(IF(...)) aggregates over the
    * `dim_bug_score` weight dimension *per call*. BigQuery decorrelates
    * that internally; in Spark the idiomatic decorrelation is to collect
    * the (small) weight dimension once on the driver and fold it into a
    * literal-free expression via broadcast map lookups. We model each
    * weight family as a Scala Map baked into a chain of `when` branches —
    * fully codegen'd, zero joins, zero shuffles at any scale.
    *
    * It takes an ALREADY-PARSED variant user_story (see
    * [[BqShims.jsonVariant]]): callers embed its five accesses inside a
    * weight-dim cross join, so a JSON string would be re-parsed per
    * access per weight row. With the variant materialized as its own
    * column before the join, each access is a binary path read, with
    * get_json_object's null-on-missing / null-on-garbage semantics
    * (q105 oracle + FunctionsSpec gate).
    */
  def scoreNoSiteRankV(weights: Map[(String, String), java.math.BigDecimal])(
      keywords: Column, userStoryVar: Column): Column = {
    def jv(p: String): Column = try_variant_get(userStoryVar, p, "string")
    def lookupCol(lookupType: String, value: Column): Column = {
      val fam = weights.collect { case ((t, v), s) if t == lookupType => (v, s) }
      fam.foldLeft(lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 9))) {
        case (acc, (v, s)) => when(value === v, lit(s).cast(DecimalType(38, 9))).otherwise(acc)
      }
    }
    def has(k: String) = array_contains(keywords, k)
    val impact = lookupCol("impact", jv("$.impact"))
    // platform is a csv list: sum of member weights
    val platformArr = split(coalesce(jv("$.platform"), lit("")), ",")
    val platform = aggregate(
      transform(platformArr, p => lookupCol("platform", trim(p))),
      lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 9)),
      (acc, x) => (acc + x).cast(DecimalType(38, 9)))
    val configuration = lookupCol("configuration", coalesce(jv("$.configuration"), lit("general")))
    val usersAffected = lookupCol("users_affected", coalesce(jv("$.affects"), lit("all")))
    val patchApplied = lookupCol("patch_applied",
      when(has("webcompat:sitepatch-applied"),
        when(has("webcompat:platform-bug"), lit("platform-bug")).otherwise(lit("site-bug")))
        .otherwise(lit("none")))
    val branch = lookupCol("branch", coalesce(jv("$.branch"), lit("release")))
    impact * platform * configuration * usersAffected * patchApplied * branch
  }

  /** WEBCOMPAT_METRIC_SCORE_SITE_RANK_MODIFIER (F2, decorrelated as a
    * join: callers join bug.host → host_min_ranks instead of probing the
    * rank table per row; routines/WEBCOMPAT_METRIC_SCORE_SITE_RANK_MODIFIER/
    * routine.sql:1-45). Given the joined rank columns + override array,
    * produce the tier multiplier. */
  def siteRankModifier(globalRank: Column, coreRank: Column, localRank: Column,
      overrides: Column): Column = {
    def ov(k: String) = array_contains(coalesce(overrides, array()), k)
    when(globalRank <= 1000 || ov("global-1k"), lit(BigDecimal(15)))
      .when(coreRank <= 1000 || ov("core-1k"), lit(BigDecimal(10)))
      .when(globalRank <= 10000 || ov("global-10k"), lit(BigDecimal(7.5)))
      .when(localRank <= 1000 || ov("local-1k"), lit(BigDecimal(5)))
      .when(coreRank <= 10000 || ov("core-10k"), lit(BigDecimal(5)))
      .when(localRank <= 10000 || ov("local-10k"), lit(BigDecimal(2.5)))
      .otherwise(lit(BigDecimal(1)))
      .cast(DecimalType(38, 9))
  }
}
