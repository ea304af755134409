package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** NfcNormalize: the native NFC expression must implement Unicode
  * canonical composition exactly (the DuckDB `nfc_normalize` oracle twin
  * semantics) and honor the null/ASCII contracts its scaladoc states.
  * Every non-ASCII codepoint is spelled as an escape so composed vs
  * decomposed inputs are unambiguous in source.
  */
class NfcNormalizeSpec extends SparkSpec {
  import sqlImplicits._

  private def cp(codepoints: Int*): String =
    codepoints.map(c => new String(Character.toChars(c))).mkString

  private def nfc(s: String): String =
    Seq(s).toDF("t")
      .select(NfcNormalize.nfcNormalize(col("t")))
      .head().getString(0)

  test("decomposed combining sequences compose: e + U+0301 -> U+00E9") {
    assert(nfc("cafe" + cp(0x0301)) == "caf" + cp(0xE9))
  }

  test("already-composed and pure-ASCII strings pass through unchanged") {
    assert(nfc("caf" + cp(0xE9)) == "caf" + cp(0xE9))
    assert(nfc("plain ascii 123") == "plain ascii 123")
    assert(nfc("") == "")
  }

  test("mixed text normalizes only the decomposed spans") {
    val in = "A" + cp(0x030A) + " ring; ASCII stays"
    assert(nfc(in) == cp(0xC5) + " ring; ASCII stays")
  }

  test("astral-plane text survives the byte walk (no mangling)") {
    val emoji = cp(0x1F600)
    assert(nfc(s"ok $emoji ok") == s"ok $emoji ok")
  }

  test("null input yields null; codegen and interpreted agree") {
    val noel = "no" + cp(0x0308) + "el" // decomposed
    val composed = "n" + cp(0xF6) + "el"
    val df = Seq[(java.lang.Long, String)](
      (1L, null), (2L, noel), (3L, "ascii"))
      .toDF("id", "t")
      .select(col("id"), NfcNormalize.nfcNormalize(col("t")).as("n"))
    val got = df.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, null), (2L, composed), (3L, "ascii")))
    // interpreted path (eval) must match the codegen'd result
    assert(NfcNormalize.nfc(
      org.apache.spark.unsafe.types.UTF8String.fromString(noel))
      .toString == composed)
  }

  test("SQL registration works through GraftExtensions sessions") {
    // nfc_normalize comes from GraftExtensions, which the shared session
    // installs through spark.sql.extensions exactly as Verify and Bench do
    Seq(Tuple1("cafe" + cp(0x0301))).toDF("s")
      .createOrReplaceTempView("nfc_test")
    val got = spark.sql("SELECT nfc_normalize(s) AS n FROM nfc_test")
      .head().getString(0)
    assert(got == "caf" + cp(0xE9))
  }

  test("matches DuckDB oracle semantics on a canonical-equivalence battery") {
    // (input, expected NFC): combining marks compose; singletons like
    // U+212B ANGSTROM SIGN canonically map to U+00C5
    val cases = Seq(
      "a" + cp(0x0301) -> cp(0xE1),
      "o" + cp(0x0302) -> cp(0xF4),
      "n" + cp(0x0303) -> cp(0xF1),
      "A" + cp(0x030A) -> cp(0xC5),
      cp(0xC5) -> cp(0xC5),
      cp(0x212B) -> cp(0xC5))
    cases.foreach { case (in, want) =>
      assert(nfc(in) == want,
        s"NFC(${in.map(_.toInt.toHexString).mkString(" ")})")
    }
  }
}
