package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class JaroWinklerSpec extends SparkSpec {
  import spark.implicits._

  private def jw(a: String, b: String): Double =
    GraftJaroWinkler.compute(a, b)

  test("textbook values: the classic Winkler paper triples") {
    assert(math.abs(jw("martha", "marhta") - 0.9611111111111111) < 1e-12)
    assert(math.abs(jw("dixon", "dicksonx") - 0.8133333333333332) < 1e-10)
    assert(math.abs(jw("jellyfish", "smellyfish") - 0.8962962962962964) < 1e-10)
  }

  test("boost fires only above 0.7 and the prefix is capped at 4") {
    // identical strings: jaro 1.0, boost is a no-op at 1.0
    assert(jw("abcdef", "abcdef") === 1.0)
    // jaro 2/3 < 0.7 despite the 5-char shared prefix -> no boost applied
    assert(math.abs(jw("abcdexxxxx", "abcdeyyyyy") - 2.0 / 3.0) < 1e-12)
    // single substitution at position 5 vs position 4: identical jaro
    // (9 of 10 matched, no transpositions), prefixes 5 and 4 — the cap
    // makes the boosts equal, and equal to the closed form with l=4
    val jaro = (0.9 + 0.9 + 1.0) / 3.0
    val prefix5 = jw("abcdefghij", "abcdeXghij")
    val prefix4 = jw("abcdefghij", "abcdXfghij")
    assert(prefix5 === prefix4)
    assert(math.abs(prefix5 - (jaro + 0.1 * 4 * (1 - jaro))) < 1e-12)
  }

  test("DuckDB conventions: empty strings score 0.0, symmetry holds") {
    assert(jw("", "") === 0.0)
    assert(jw("abc", "") === 0.0)
    assert(jw("", "abc") === 0.0)
    assert(jw("martha", "marhta") === jw("marhta", "martha"))
    // disjoint alphabets: zero matches
    assert(jw("aaaa", "bbbb") === 0.0)
  }

  test("registered expression matches the static kernel and handles null") {
    val rows = Seq(("martha", "marhta"), ("dixon", "dicksonx"),
      ("same", "same"), ("", ""))
      .toDF("a", "b")
      .withColumn("jw", call_function("graft_jaro_winkler", col("a"), col("b")))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(2) === jw(r.getString(0), r.getString(1)))
    }
    val withNull = Seq(("x", null: String)).toDF("a", "b")
      .withColumn("jw", call_function("graft_jaro_winkler", col("a"), col("b")))
      .collect().head
    assert(withNull.isNullAt(2), "null input must propagate to null score")
  }

  test("byte-wise ASCII path equals the String path; non-ASCII falls back") {
    import org.apache.spark.unsafe.types.UTF8String
    val cases = Seq(("martha", "marhta"), ("dixon", "dicksonx"),
      ("", ""), ("abc", "abd"), ("Customer#000000012", "Customer#00000002"))
    cases.foreach { case (a, b) =>
      assert(JaroWinklerKernel.compute(
        UTF8String.fromString(a), UTF8String.fromString(b)) === jw(a, b))
    }
    // multi-byte codepoints: numBytes != numChars routes to the String
    // path, which compares per Java char — same as the direct call
    val (u1, u2) = ("straße", "strasse")
    assert(JaroWinklerKernel.compute(
      UTF8String.fromString(u1), UTF8String.fromString(u2)) === jw(u1, u2))
  }
}
