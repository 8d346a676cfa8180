package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.dag.Dialect

/** Seeded fuzz of the Dialect scanner (r12 ask #6): `Dialect.scala` is
  * ~1000 lines of string-literal- and comment-aware token rewrites,
  * previously validated only against the fixed 160-object corpus.
  * These properties generate BigQuery-dialect SELECTs that embed the
  * scanner's hard cases — brackets and keywords INSIDE string
  * literals, raw strings with regex metachars, comments containing
  * keywords, nested calls, UNNEST idioms, QUALIFY — and assert:
  *
  *  1. translate ∘ translate = translate (a second pass must not
  *     re-fire on its own output — e.g. `SPLIT(x)` → `split(x, ',', -1)`
  *     must not match again, array() parens must not re-bracket);
  *  2. the output ANALYZES in Spark against a registered fixture
  *     table (the scanner produced well-formed Spark SQL, resolved
  *     columns and all), for every generated query.
  */
class DialectPropertySpec extends SparkTestBase {
  import spark.implicits._

  private lazy val fixture: Unit =
    Seq((1L, 1.5, "a,b", Seq("x", "y"), "{\"k\":\"v\"}"))
      .toDF("k", "v", "s", "arr", "js")
      .createOrReplaceTempView("fuzz_t")

  // --- generators -------------------------------------------------------

  /** String-literal CONTENT designed to trip a naive scanner: tokens
    * that are rewrite triggers when outside a literal. Kept free of
    * quotes/backslashes — those have their own generator below. */
  private val trickyContent: Gen[String] = Gen.oneOf(
    "QUALIFY", "[1,2]", "SPLIT(a)", "AS INT64", "-- not a comment",
    "/* not a block */", "UNNEST(arr)", "a,b,,c", "((( ] [",
    "COUNTIF(x)", "SAFE_CAST(v AS FLOAT64)")

  private val stringLit: Gen[String] = Gen.oneOf(
    trickyContent.map(c => s"'$c'"),
    trickyContent.map(c => "\"" + c + "\""))

  /** r"…" raw strings with regex metachars (the pass doubles
    * backslashes so Spark's parser halves them back). */
  private val rawString: Gen[String] = Gen.oneOf(
    "r'^a\\d+$'", "r\"[0-9]{2}\\.\\w\"", "r'(x|y)*'", "r\"a.b\"")

  private val numLit: Gen[String] = Gen.oneOf("1", "42", "0.5", "-3")

  /** Scalar expression over fuzz_t's columns, exercising the token
    * rewrites (SAFE_CAST/INT64, SAFE_DIVIDE, ARRAY_LENGTH, single-arg
    * SPLIT, STARTS_WITH, REGEXP_CONTAINS + raw string, array literal,
    * IN UNNEST, COUNTIF-free scalar ops). */
  private val scalarExpr: Gen[String] = Gen.oneOf(
    Gen.const("k"), Gen.const("v"), Gen.const("s"),
    numLit, stringLit,
    stringLit.map(l => s"SAFE_CAST($l AS INT64)"),
    Gen.const("SAFE_CAST(v AS FLOAT64)"),
    Gen.const("SAFE_DIVIDE(v, v)"),
    Gen.const("ARRAY_LENGTH(arr)"),
    Gen.const("SPLIT(s)"),
    stringLit.map(l => s"STARTS_WITH(s, $l)"),
    rawString.map(r => s"REGEXP_CONTAINS(s, $r)"),
    numLit.flatMap(a => numLit.map(b => s"[$a, $b]")),
    Gen.const("arr[0]"),
    stringLit.map(l => s"$l IN UNNEST(arr)"),
    Gen.const("(SELECT COUNTIF(x = 'y') FROM UNNEST(arr) AS x)"),
    Gen.const("ARRAY(SELECT UPPER(x) FROM UNNEST(arr) AS x)"),
    Gen.const("JSON_VALUE(js, '$.k')"))

  /** Comments whose text contains rewrite-trigger keywords. */
  private val comment: Gen[String] = Gen.oneOf(
    "-- QUALIFY SPLIT(a) [1]\n", "/* AS INT64, UNNEST(x) */ ", "")

  private case class Q(sql: String)

  private val queryGen: Gen[Q] = for {
    n <- Gen.choose(1, 4)
    exprs <- Gen.listOfN(n, scalarExpr)
    c1 <- comment
    c2 <- comment
    wherePred <- Gen.option(Gen.oneOf(
      "v > 0", "s != 'QUALIFY'", "ARRAY_LENGTH(arr) >= 1"))
    qualify <- Gen.option(Gen.oneOf(
      "ROW_NUMBER() OVER (PARTITION BY k ORDER BY v DESC, s) = 1",
      "ROW_NUMBER() OVER (PARTITION BY k ORDER BY v, s) <= 2"))
    trailingComma <- Gen.oneOf("", ",")
  } yield {
    val sel = exprs.zipWithIndex
      .map { case (e, i) => s"$e AS c$i" }.mkString(", ")
    val w = wherePred.map(p => s"\nWHERE $p").getOrElse("")
    // QUALIFY requires a window; keep it last as BigQuery does
    val q = qualify.map(p => s"\nQUALIFY $p").getOrElse("")
    Q(s"SELECT $c1$sel$trailingComma ${c2}FROM fuzz_t$w$q")
  }

  private def samples(n: Int, seed0: Long): Seq[Q] = {
    val params = Gen.Parameters.default
    (0 until n).map(i => queryGen.pureApply(params, Seed(seed0 + i)))
  }

  test("property: translate is idempotent on 400 fuzzed queries") {
    fixture
    samples(400, 101L).foreach { q =>
      val once = Dialect.translate(q.sql)
      val twice = Dialect.translate(once)
      assert(twice == once,
        s"translate not idempotent on:\n${q.sql}\nonce:\n$once\ntwice:\n$twice")
    }
  }

  test("property: translated output analyzes against the fixture table (400 queries)") {
    fixture
    samples(400, 9001L).foreach { q =>
      val out = Dialect.translate(q.sql)
      try spark.sql(out).queryExecution.analyzed
      catch {
        case e: Throwable =>
          fail(s"translated SQL failed analysis:\n-- in:\n${q.sql}\n-- out:\n$out\n${e.getMessage}")
      }
    }
  }

  test("property: translated output EXECUTES and QUALIFY keeps row semantics (100 queries)") {
    // deeper than analysis: run each plan; queries with QUALIFY rn=1
    // must return exactly one row per k (fixture has a single k)
    fixture
    samples(100, 31337L).foreach { q =>
      val out = Dialect.translate(q.sql)
      val rows = spark.sql(out).collect()
      assert(rows.length == 1, s"expected 1 row from:\n${q.sql}\ngot ${rows.length}")
    }
  }
}
