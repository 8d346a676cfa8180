package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.NfcNormalize

class NfcNormalizeSpec extends SparkTestBase {

  // (input, expected NFC), all via \u escapes so the file stays ASCII.
  // Expected values confirmed against DuckDB's nfc_normalize (the q255
  // oracle); both implement UAX#15 canonical composition.
  private val cases: Seq[(String, String)] = Seq(
    ("e\u0301", "\u00e9"),          // combining acute composes
    ("\u00e9", "\u00e9"),           // already composed: unchanged
    ("abc", "abc"),                   // ASCII is always NFC
    ("", ""),
    ("A\u030a", "\u00c5"),          // A + ring above composes
    // marks typed out of canonical order (acute ccc 230 before
    // cedilla ccc 202): NFC reorders then composes what it can
    ("A\u0301\u0327", "\u00c1\u0327"),
    ("\ufb01", "\ufb01"),           // fi ligature: NFKC-only, kept
    ("\u1e9b\u0323", "\u1e9b\u0323"), // composition-exclusion long s
    ("\u1100\u1161", "\uac00"),    // Hangul jamo compose to GA
    ("o\u0302\u0301", "\u1ed1"))   // o + circumflex + acute

  test("nfc matches the pinned UAX#15 cases") {
    for ((in, want) <- cases) {
      val got = NfcNormalize.nfc(UTF8String.fromString(in)).toString
      assert(got == want,
        s"in=${in.map(_.toInt.toHexString)} got=${got.map(_.toInt.toHexString)}")
    }
  }

  test("normalized input returns the same UTF8String instance (fast path)") {
    val s = UTF8String.fromString("plain ascii text")
    assert(NfcNormalize.nfc(s) eq s)
  }

  test("expression works through codegen and the SQL surface") {
    import spark.implicits._
    val df = cases.toDF("s", "want")
    assert(df.withColumn("got", NfcNormalize(col("s")))
      .filter(col("got") =!= col("want")).count() == 0)
    assert(df.selectExpr("nfc_normalize(s) AS got", "want")
      .filter(col("got") =!= col("want")).count() == 0)
    val n = Seq(Option.empty[String]).toDF("s")
      .selectExpr("nfc_normalize(s)").collect()
    assert(n.head.isNullAt(0))
  }
}
