package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.UnicodeNormalizeNFC

/** The native NFC expression must agree with java.text.Normalizer on every
  * class of input the fixture can't exercise (the fixtures are ASCII, where
  * NFC is the identity).
  */
class UnicodeNormalizeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val cases = Seq(
    "plain ascii text",
    "caf\u00e9",                 // precomposed e-acute - already NFC
    "cafe\u0301",                // e + combining acute - composes
    "A\u030a",                   // A + combining ring - composes
    "\u1e69",                    // s with dot below and above (NFC stable)
    "s\u0323\u0307",            // s + dot-below + dot-above - composes
    "\uac00",                    // precomposed Hangul syllable GA
    "\u1100\u1161",             // Hangul jamo pair - composes to GA
    "\u4e00\u4e8c\u4e09\u56db",  // CJK ideographs (NFC identity)
    "",                          // empty
    "  mixed caf\u00e9 and \u1100\u1161  ")

  test("expression output equals java.text.Normalizer NFC for all case classes") {
    val got = cases.toDF("s")
      .select(UnicodeNormalizeNFC.nfcNormalize(col("s")).as("n"))
      .as[String].collect().toSeq
    val want = cases.map(java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC))
    assert(got == want)
  }

  test("null propagates; already-normalized strings compare equal to input") {
    val df = Seq[Option[String]](None, Some("ascii")).toDF("s")
      .select(UnicodeNormalizeNFC.nfcNormalize(col("s")).as("n"))
    assert(df.collect().map(r => Option(r.getString(0))).toSeq ==
      Seq(None, Some("ascii")))
  }

  test("nfc_normalize is SQL-callable once registered (GraftExtensions wiring)") {
    val got = spark.sql("SELECT nfc_normalize('cafe\u0301') AS n").first.getString(0)
    assert(got == "caf\u00e9")
  }

  test("normalization is idempotent on every case class") {
    val once = cases.map(java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC))
    val twice = once.toDF("s")
      .select(UnicodeNormalizeNFC.nfcNormalize(col("s")).as("n"))
      .as[String].collect().toSeq
    assert(twice == once)
  }

  test("composed and decomposed forms hash identically after normalization") {
    val df = Seq(("caf\u00e9", "cafe\u0301")).toDF("a", "b")
      .select(
        md5(UnicodeNormalizeNFC.nfcNormalize(col("a"))).as("ha"),
        md5(UnicodeNormalizeNFC.nfcNormalize(col("b"))).as("hb"))
    val r = df.head()
    assert(r.getString(0) == r.getString(1))
  }
}
