package graft.dag

import java.time.{Instant, LocalDate}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Deterministic synthetic rows for a corpus table schema — the data
  * layer of the corpus *execution* sweep (q109). The reference validates
  * its SQL tree against live warehouse tables; this engine has no
  * warehouse, so the execution gate populates every table stand-in with
  * schema-typed, name-aware rows and runs the full view tree over them.
  *
  * Values are a pure function of (table, field path, row index) via
  * FNV-1a — no RNG, no clock — so every run (and the DuckDB golden
  * oracle for q109) sees identical data. Name-aware heuristics keep the
  * corpus's runtime expressions on their happy path: `url`-ish columns
  * get real URLs (parse_url / WEBCOMPAT_HOST), `user_story` gets the
  * JSON shape EXTRACT_ARRAY reads (`$.site-rank-override`), `yyyymm`
  * columns get valid months for PARSE_DATE('%Y%m', …), and foreign-key
  * `*bug*` ids share one small key space so joins actually match.
  *
  * Rows are built driver-side: this is a fixed-size validation fixture
  * (dozens of rows per table), not a data-generation scale path.
  */
object SyntheticRows {

  /** FNV-1a 64-bit — stable across JVMs and runs by construction. */
  private def fnv(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }
  /** fnv + murmur3 fmix64 finalizer. Raw FNV-1a low bits are weak —
    * multiplying by an odd prime preserves parity, so `h % 2` degenerates
    * to an XOR of character parities and fields sharing row indices
    * correlate systematically (observed: every mobile bug on an
    * even-numbered host, every france-ranked host odd — zero joint rows
    * however large the fixture). The finalizer avalanches all 64 bits. */
  private def mix(table: String, path: String, i: Int): Long = {
    var x = fnv(s"$table.$path.$i")
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    if (x == Long.MinValue) 0L else math.abs(x)
  }

  private val epochDay = LocalDate.of(2024, 1, 1).toEpochDay
  private val epochSec = 1704067200L // 2024-01-01T00:00:00Z

  /** Small shared vocabularies drawn from the corpus's own literal
    * comparisons (WHERE/CASE arms in data/sql views, dim_bug_score
    * lookup rows) so equality joins and IN-list filters hit real
    * matches — the fixture's whole point is driving the views' hot
    * branches, not just their schemas. */
  private val statuses = Seq("NEW", "ASSIGNED", "RESOLVED", "VERIFIED", "REOPENED", "UNCONFIRMED")
  // "" (open bug) weighted like real trackers — several views filter
  // `resolution = ""` (core_bugs_scores) and would go empty otherwise
  private val resolutions = Seq("", "", "", "FIXED", "WONTFIX", "DUPLICATE", "INVALID", "WORKSFORME")
  private val ranks = Seq("global-1k", "core-1k", "global-10k", "local-1k", "core-10k", "local-10k")
  private val keywords = Seq("webcompat:needs-diagnosis", "webcompat:platform-bug",
    "webcompat:site-report", "webcompat:sitepatch-applied", "webcompat:needs-sitepatch",
    "webcompat:contact-in-progress", "webcompat:contact-complete", "webcompat:contact-ready",
    "parity-chrome", "parity-safari", "regression")
  // heavily Web Compatibility / Site Reports: that pair is the
  // site_reports WHERE filter, and most of the view tree (scored,
  // topline metrics, per-country variants) flows from it
  private val products = Seq("Web Compatibility", "Web Compatibility", "Web Compatibility", "Core", "Firefox")
  private val components = Seq("Site Reports", "Site Reports", "Site Reports", "Knowledge Base", "DOM")
  private val whiteboards = Seq("", "[webcompat-source:product]", "[webcompat-source:web-bugs]",
    "[webcompat-source:product] autowebcompat:processed autowebcompat:repro-success",
    "autowebcompat:processed autowebcompat:repro-failed autowebcompat:interv-ua-override-proposed")
  private val impacts = Seq("blocked", "severe", "significant", "workaround", "feature-not-supported")
  private val affects = Seq("all", "some", "few")
  private val configurations = Seq("general", "specific")
  private val branches = Seq("release", "beta", "nightly")
  // mobile-heavy: the 15 per-country *_mobile metric views all require
  // `is_mobile` (android/ios in the platform list) AND top-1k country
  // membership, so a thin mobile share leaves them all empty
  private val platformSets = Seq("windows,mac,linux", "android", "ios,android", "windows", "ios", "android,windows")
  private val teams = Seq("layout", "dom", "media", "networking", "unknown")
  private val lookupTypes = Seq("severity", "impact", "platform", "configuration",
    "users_affected", "patch_applied", "branch")
  private val lookupValues = Seq("1", "2", "3", "4", "blocked", "severe", "significant",
    "workaround", "windows", "mac", "linux", "android", "ios", "general", "specific",
    "all", "some", "few", "none", "site-bug", "platform-bug", "release", "beta", "nightly")

  private def pick(xs: Seq[String], h: Long): String = xs(((h >>> 3) % xs.size).toInt)

  private def url(h: Long): String =
    s"https://${if (h % 3 == 0) "www." else ""}example${h % 12}.com/page${h % 7}"

  private def userStory(h: Long): String = {
    val parts = Seq(
      if (h % 2 == 0) Some(s""""impact": "${pick(impacts, h)}"""") else None,
      if (h % 4 != 1) Some(s""""platform": "${pick(platformSets, h)}"""") else None,
      if (h % 5 == 0) Some(s""""configuration": "${pick(configurations, h)}"""") else None,
      if (h % 5 == 1) Some(s""""affects": "${pick(affects, h)}"""") else None,
      if (h % 7 == 0) Some(s""""branch": "${pick(branches, h)}"""") else None,
      if (h % 4 == 0) Some(s""""diagnosis-team": "${pick(teams, h)}"""") else None,
      if (h % 6 == 0) Some(s""""site-rank-override": ["${pick(ranks, h)}"]""") else None
    ).flatten
    parts.mkString("{", ", ", "}")
  }

  private def stringFor(table: String, name: String, h: Long): String = {
    val n = name.toLowerCase
    if (n == "url" || n.endsWith("_url") || n == "top_level_url") url(h)
    else if (n == "user_story" || n == "user_story_raw") userStory(h)
    else if (n == "see_also")
      // interop_proposals splits see_also into bugzilla links and
      // web-platform-tests interop issues — emit both kinds
      (if (h % 3 == 0) s"https://github.com/web-platform-tests/interop/issues/${h % 40}"
       else s"https://bugzilla.mozilla.org/show_bug.cgi?id=${h % 50}")
    else if (n == "status") statuses((h % statuses.size).toInt)
    else if (n == "resolution") resolutions((h % resolutions.size).toInt)
    else if (n == "product") pick(products, h)
    else if (n == "component") pick(components, h)
    else if (n == "keywords") pick(keywords, h)
    else if (n == "whiteboard") pick(whiteboards, h)
    else if (n == "lookup_type") pick(lookupTypes, h)
    else if (n == "lookup_value") pick(lookupValues, h)
    else if (n == "team" || n.endsWith("_team")) pick(teams, h)
    else if (n == "task_name") (if (h % 2 == 0) "repro" else "screenshot")
    else if (n.endsWith("_key")) s"${h % 50}" // PARSE_NUMERIC'd run keys
    else if (n.contains("severity")) s"S${h % 4 + 1}"
    else if (n.contains("priority")) s"P${h % 5 + 1}"
    else if (n.contains("date")) LocalDate.ofEpochDay(epochDay + h % 365).toString
    else if (n.contains("host") || n.contains("domain")) s"example${h % 12}.com"
    else if (n.contains("email") || n.contains("creator") || n.contains("assign")) s"user${h % 9}@example.com"
    // crux country codes are lowercase, with "global" as a pseudo-country
    // (webcompat_topline_metric_bug_hosts pins '["global","us","fr",…]')
    else if (n.contains("country")) Seq("global", "us", "fr", "de", "es", "it", "mx", "jp")((h % 8).toInt)
    else if (n.contains("version")) s"${h % 20 + 100}.0"
    // features_latest: features.release must equal a releases.name
    else if (n == "release" || (n == "name" && table.endsWith("releases"))) s"rel${h % 4}"
    else if (n == "origin") url(h) // crux origins are URLs, NET.HOST'd on join
    else s"$name-${h % 10}"
  }

  private def longFor(name: String, h: Long): Long = {
    val n = name.toLowerCase
    // WEBCOMPAT_METRIC_YYYYMM() pins the metric month to 202603 — half
    // the fixture lands there so `yyyymm = …()` filters keep rows.
    // 202603 = WEBCOMPAT_METRIC_YYYYMM(); 202409 is pinned by
    // webcompat_topline_metric_bug_hosts' origin_ranks filter
    if (n == "yyyymm" || n.endsWith("_yyyymm"))
      Seq(202603L, 202603L, 202602L, 202409L)((h % 4).toInt)
    // bug-id FKs share one small key space; `number` itself is the
    // primary key and must be unique per table (duplicates fan joins out)
    else if (n.contains("bug") || n.contains("depends") || n.contains("blocks")) h % 50
    else if (n == "run_id") h % 30
    else if (n == "issue") h % 40 // interop issue ids, see_also's path tail
    else if (n == "year") 2024L + h % 3 // interop_proposals filters year = 2026
    // crux publishes rank BUCKETS (1000/10000/100000), and the corpus
    // tests both `rank = 1000` (origin_ranks joins) and
    // `MIN(<x>_rank) <= 1000` (metric conditions) — half land in the
    // top-1k bucket
    else if (n.contains("rank")) Seq(1000L, 1000L, 10000L, 100000L)((h % 4).toInt)
    else if (n.contains("severity")) h % 4 + 1
    else if (n.contains("priority")) h % 5 + 1
    else if (n.contains("score") || n.contains("count")) h % 100
    else h % 1000
  }

  private def valueFor(table: String, path: String, name: String, dt: DataType,
      nullable: Boolean, i: Int): Any = {
    val h = mix(table, path, i)
    // REQUIRED fields never null; nullable ones null every 7th draw so
    // IFNULL/IS NULL branches execute, except id-ish/url-ish columns
    // where nulls would just shrink join coverage.
    val n = name.toLowerCase
    val keepDense = n.contains("bug") || n == "number" || n.contains("url") || n == "uuid"
    if (nullable && !keepDense && h % 7 == 0) return null
    dt match {
      case StringType => stringFor(table, name, h)
      case LongType => if (n == "number") i.toLong else longFor(name, h)
      case IntegerType => (longFor(name, h) % Int.MaxValue).toInt
      case DoubleType => (h % 10000) / 100.0
      case _: DecimalType => new java.math.BigDecimal(h % 1000).movePointLeft(1).setScale(9)
      case BooleanType => h % 2 == 0
      case DateType => java.sql.Date.valueOf(LocalDate.ofEpochDay(epochDay + h % 365))
      case TimestampType =>
        java.sql.Timestamp.from(Instant.ofEpochSecond(epochSec + (h % 365) * 86400 + h % 86400))
      case TimestampNTZType =>
        java.time.LocalDateTime.ofEpochSecond(epochSec + (h % 365) * 86400 + h % 86400, 0, java.time.ZoneOffset.UTC)
      case BinaryType => Array.tabulate[Byte]((h % 8).toInt + 1)(j => ((h + j) % 256 - 128).toByte)
      case ArrayType(elem, _) =>
        Seq.tabulate((h % 3).toInt)(j => valueFor(table, s"$path[$j]", name, elem, nullable = false, i))
      case StructType(fields) =>
        Row.fromSeq(fields.toSeq.map(f =>
          valueFor(table, s"$path.${f.name}", f.name, f.dataType, f.nullable, i)))
      case other => sys.error(s"SyntheticRows: unsupported type $other for $table.$path")
    }
  }

  /** Values for `lookup_value` conditioned on the row's `lookup_type` —
    * real dim_bug_score rows are coherent (a severity row carries "1",
    * not "mac"), and scored_site_reports_before_* CASTs severity rows'
    * lookup_value to BIGINT, which ANSI-fails on garbage. */
  private def lookupValueFor(lookupType: String, h: Long): String = lookupType match {
    case "severity" => s"${h % 4 + 1}"
    case "impact" => pick(impacts, h)
    case "platform" => pick(Seq("windows", "mac", "linux", "android", "ios"), h)
    case "configuration" => pick(configurations, h)
    case "users_affected" => pick(affects, h)
    case "patch_applied" => pick(Seq("none", "site-bug", "platform-bug"), h)
    case "branch" => pick(branches, h)
    case _ => s"${h % 4 + 1}"
  }

  /** `n` deterministic rows typed to `schema`. */
  def rows(table: String, schema: StructType, n: Int): Seq[Row] = {
    val lookupTypeIdx = schema.fieldNames.indexOf("lookup_type")
    val lookupValueIdx = schema.fieldNames.indexOf("lookup_value")
    Seq.tabulate(n) { i =>
      val vals = schema.fields.toSeq.map(f =>
        valueFor(table, f.name, f.name, f.dataType, f.nullable, i))
      val coherent =
        if (lookupTypeIdx >= 0 && lookupValueIdx >= 0)
          vals.updated(lookupValueIdx,
            lookupValueFor(vals(lookupTypeIdx).asInstanceOf[String], mix(table, "lookup_value", i)))
        else vals
      Row.fromSeq(coherent)
    }
  }
}
