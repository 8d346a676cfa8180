package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** BigQuery-dialect → Spark shims (SURVEY §2.8).
  *
  * Each helper is a pure `Column` combinator — it stays inside Catalyst
  * (codegen'd, pushdown-friendly); none of these are Scala UDFs.
  *
  * Reference dialect usages these mirror (see /root/reference):
  *  - SAFE_DIVIDE            → [[safeDivide]]
  *  - SAFE_CAST              → `try_cast`
  *  - COUNTIF(p)             → `count_if`
  *  - DATE_TRUNC(d, WEEK(SUNDAY)) → [[weekSunday]]
  *    (jobs/graphics-dashboard/graphics_dashboard/sql/graphics_trends.sql:46)
  *  - GENERATE_DATE_ARRAY    → `sequence`
  *    (jobs/webcompat-kb/webcompat_kb/metrics/metrics.py:204)
  *  - FARM_FINGERPRINT       → `xxhash64` (same role — a stable 64-bit
  *    hash for deterministic ordering/sampling;
  *    jobs/graphics-dashboard/graphics_dashboard/sql/graphics_trends.sql:48)
  *  - ARRAY_LAST / OFFSET / SAFE_OFFSET → [[arrayLast]]/[[offset]]/[[safeOffset]]
  *  - JSON_VALUE             → [[jsonValue]]
  *  - CONTAINS_SUBSTR        → `lower(h).contains(lower(needle))`
  *  - IFNULL                 → `coalesce`
  */
object BqShims {

  /** SAFE_DIVIDE(a, b): null instead of error/inf on b = 0. */
  def safeDivide(a: Column, b: Column): Column =
    when(b === 0 || b.isNull, lit(null)).otherwise(a / b)

  /** DATE_TRUNC(d, WEEK(SUNDAY)): Sunday-start week floor.
    * Spark's date_trunc('week') is Monday-start; shift by day-of-week
    * (Sunday=1 in Spark's dayofweek). */
  def weekSunday(d: Column): Column = date_sub(d, dayofweek(d) - lit(1))

  /** UNIX_MICROS tolerant of both TIMESTAMP and TIMESTAMP_NTZ.
    * Parquet `timestamp[us], isAdjustedToUTC=false` reads as
    * TIMESTAMP_NTZ in Spark 4, where `unix_micros` throws
    * DATATYPE_MISMATCH. Casting through TIMESTAMP first is a no-op for
    * TIMESTAMP and, under a UTC session timezone (every graft session
    * builder sets it), value-preserving for NTZ — so the result equals
    * DuckDB's epoch_us over the same parquet file either way. */
  def epochMicros(c: Column): Column = unix_micros(c.cast(TimestampType))

  /** Portable deterministic hash (also available in DuckDB): first 8 hex
    * digits of md5 as a bigint. Used where oracle parity matters. */
  def md5Bucket(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast(LongType)

  /** ARRAY_LAST(a) */
  def arrayLast(a: Column): Column = element_at(a, -1)

  /** a[OFFSET(i)] — error semantics relaxed to null-off-end is fine for
    * our corpus; BigQuery OFFSET is 0-based, Spark element_at is 1-based. */
  def offset(a: Column, i: Int): Column = element_at(a, i + 1)

  /** a[SAFE_OFFSET(i)] — null when out of bounds (element_at is already
    * null-safe for out-of-range on arrays with ansi off; keep explicit). */
  def safeOffset(a: Column, i: Int): Column =
    when(size(a) > i, element_at(a, i + 1)).otherwise(lit(null))

  /** JSON_VALUE(j, '$.path') */
  def jsonValue(j: Column, path: String): Column = get_json_object(j, path)

  /** JSON string column → Spark 4 `VariantType`, the PARSE-ONCE typed
    * form of a JSON column (SURVEY §1's own mapping). `jsonValue`
    * re-parses the string on every access — correct, but at 100× a
    * repeated-access JSON column pays one full parse per expression.
    * Parse to a variant once, then every [[variantValue]] /
    * [[variantGet]] is a cheap binary-encoded path lookup, no
    * re-parse. Malformed JSON → null (try semantics, matching
    * `get_json_object`'s null-on-garbage). The legacy string path
    * stays the DuckDB-oracle-checked one; VariantSpec pins the twin
    * queries equal row-for-row and the single-parse plan shape. */
  def jsonVariant(j: Column): Column = try_parse_json(j)

  /** JSON_VALUE twin over a parsed variant: string-typed extraction
    * with get_json_object's null-on-missing semantics. */
  def variantValue(v: Column, path: String): Column =
    try_variant_get(v, path, "string")

  /** Typed extraction over a parsed variant (e.g. "bigint", "double",
    * "boolean") — replaces the `jsonValue(...).try_cast(t)` idiom with
    * a direct typed read of the binary encoding. */
  def variantGet(v: Column, path: String, dataType: String): Column =
    try_variant_get(v, path, dataType)

  /** NET.HOST(url) — registrable host of a URL (no port). */
  /** NET.HOST is best-effort on scheme-less input ("www.abc.xyz" →
    * "www.abc.xyz" per the BigQuery docs) — the corpus relies on this,
    * calling WEBCOMPAT_HOST on bare crux hostnames. Spark's parse_url
    * returns NULL without a scheme, so default one in. */
  def netHost(url: Column): Column =
    parse_url(when(url.contains("://"), url).otherwise(concat(lit("http://"), url)), lit("HOST"))

  /** NULLIF(a, b) */
  def nullIf(a: Column, b: Column): Column = when(a === b, lit(null)).otherwise(a)
}
