package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import graft.functions.{BqShims, Routines}

/** Function-library tests in the reference's pure-function pytest style,
  * plus property checks for the URL routines. */
class FunctionsSpec extends SparkTestBase {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column): T =
    spark.range(1).select(c.as("v")).collect().head.getAs[T]("v")

  test("webcompatHost strips www. and m. prefixes (WEBCOMPAT_HOST routine)") {
    val rows = Seq(
      "https://www.example.com/x" -> "example.com",
      "https://m.example.com/x" -> "example.com",
      "https://sub.example.com/x" -> "sub.example.com",
      "http://example.com" -> "example.com")
    rows.foreach { case (url, want) =>
      val got = spark.range(1).select(Routines.webcompatHost(lit(url)).as("h"))
        .collect().head.getString(0)
      assert(got == want, s"for $url")
    }
  }

  test("urlParse mirrors URL_PARSE struct semantics") {
    val r = spark.range(1)
      .select(Routines.urlParse(lit("https://h.io/a/b?q=1&r=2#frag")).as("u"))
      .select("u.scheme", "u.host", "u.path", "u.query", "u.fragment")
      .collect().head
    assert(r == Row("https", "h.io", "/a/b", "q=1&r=2", "frag"))
    // path defaults to "/", query/fragment null when absent
    val r2 = spark.range(1)
      .select(Routines.urlParse(lit("https://h.io")).as("u"))
      .select("u.path", "u.query", "u.fragment").collect().head
    assert(r2 == Row("/", null, null))
  }

  test("bugIdFromBugzillaUrl extracts the id query param only") {
    val cases = Seq(
      "https://bugzilla.mozilla.org/show_bug.cgi?id=123" -> 123L,
      "https://bugzilla.mozilla.org/show_bug.cgi?x=1&id=77" -> 77L)
    cases.foreach { case (url, want) =>
      val got = spark.range(1).select(Routines.bugIdFromBugzillaUrl(lit(url)))
        .collect().head.getLong(0)
      assert(got == want)
    }
    val n = spark.range(1)
      .select(Routines.bugIdFromBugzillaUrl(lit("https://example.com/?id=5")))
      .collect().head
    assert(n.isNullAt(0))
  }

  test("extractArray accepts scalar or array JSON (EXTRACT_ARRAY routine)") {
    def run(json: String): Seq[String] =
      spark.range(1)
        .select(Routines.extractArrayV(BqShims.jsonVariant(lit(json)), "$.k").as("a"))
        .collect().head.getSeq[String](0)
    assert(run("""{"k": ["a", " b "]}""") == Seq("a", "b"))
    assert(run("""{"k": "solo"}""") == Seq("solo"))
    assert(run("""{"other": 1}""") == Seq.empty)
  }

  test("webcompatBlockedReason decision tree (WEBCOMPAT_BLOCKED_REASON)") {
    def run(kw: Seq[String]): String = {
      val df = Seq(Tuple1(kw)).toDF("keywords")
      val r = df.select(Routines.webcompatBlockedReason(col("keywords")).as("r"))
        .collect().head
      if (r.isNullAt(0)) null else r.getString(0)
    }
    assert(run(Seq("webcompat:blocked-resources")) == "resources")
    assert(run(Seq("webcompat:blocked", "spec-needed")) == "spec")
    assert(run(Seq("webcompat:blocked", "webcompat:needs-diagnosis",
      "webcompat:needs-login")) == "needs-login")
    assert(run(Seq("webcompat:blocked", "webcompat:needs-contact")) == "needs-contact")
    assert(run(Seq("webcompat:blocked")) == "other")
    assert(run(Seq("unrelated")) == null)
  }

  test("scoreNoSiteRank decorrelated scoring multiplies six weight families") {
    val weights = Map[(String, String), java.math.BigDecimal](
      ("impact", "severe") -> bd(10), ("impact", "low") -> bd(1),
      ("platform", "windows") -> bd(2), ("platform", "linux") -> bd(3),
      ("configuration", "general") -> bd(1),
      ("users_affected", "all") -> bd(2),
      ("patch_applied", "none") -> bd(1), ("patch_applied", "site-bug") -> bd(5),
      ("branch", "release") -> bd(1))
    val df = Seq(
      (Seq.empty[String], """{"impact":"severe","platform":"windows,linux"}"""),
      (Seq("webcompat:sitepatch-applied"), """{"impact":"low","platform":"windows"}"""))
      .toDF("keywords", "user_story")
    val got = df.select(
      Routines.scoreNoSiteRankV(weights)(col("keywords"),
        BqShims.jsonVariant(col("user_story")))
        .cast("double").as("s")).collect().map(_.getDouble(0)).toSeq
    // severe(10) * (windows 2 + linux 3) * general 1 * all 2 * none 1 * release 1
    assert(got.head == 10 * 5 * 1 * 2 * 1 * 1)
    // low(1) * windows(2) * 1 * 2 * site-bug(5) * 1
    assert(got(1) == 1 * 2 * 1 * 2 * 5 * 1)
  }

  test("siteRankModifier tier ladder") {
    val df = Seq(
      (500L, 99999L, 99999L, Seq.empty[String]),
      (99999L, 800L, 99999L, Seq.empty[String]),
      (5000L, 99999L, 99999L, Seq.empty[String]),
      (99999L, 99999L, 99999L, Seq("global-1k")),
      (99999L, 99999L, 99999L, Seq.empty[String]))
      .toDF("g", "c", "l", "ov")
    val got = df.select(Routines.siteRankModifier(col("g"), col("c"), col("l"), col("ov"))
      .cast("double").as("m")).collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(15.0, 10.0, 7.5, 15.0, 1.0))
  }

  test("pg-array translate → JSON array (pg_dump_to_parquet.py:172-173)") {
    val got = spark.range(1)
      .select(translate(lit("{1,2,3}"), "{}", "[]").as("j"))
      .collect().head.getString(0)
    assert(got == "[1,2,3]")
  }

  test("shims: weekSunday / safeDivide / safeOffset") {
    assert(one[java.sql.Date](BqShims.weekSunday(lit(java.sql.Date.valueOf("2024-01-10"))))
      == java.sql.Date.valueOf("2024-01-07"))
    assert(one[java.sql.Date](BqShims.weekSunday(lit(java.sql.Date.valueOf("2024-01-07"))))
      == java.sql.Date.valueOf("2024-01-07"))
    val div = spark.range(1).select(
      BqShims.safeDivide(lit(10.0), lit(0.0)).as("z"),
      BqShims.safeDivide(lit(10.0), lit(4.0)).as("q")).collect().head
    assert(div.isNullAt(0) && div.getDouble(1) == 2.5)
    val so = Seq(Tuple1(Seq(1, 2, 3))).toDF("a")
      .select(BqShims.safeOffset(col("a"), 5).as("x"),
        BqShims.offset(col("a"), 1).as("y")).collect().head
    assert(so.isNullAt(0) && so.getInt(1) == 2)
  }

  private def bd(i: Int) = new java.math.BigDecimal(i)
}
