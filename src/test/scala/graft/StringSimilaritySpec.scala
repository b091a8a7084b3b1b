package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{SpecAccess, StringFunctions}

/** Jaro-Winkler against the literature's canonical examples plus the
  * DuckDB-matching conventions (the fuzzy_part_pairs_jw oracle verifies
  * bit-exactness against DuckDB on real data at hash level). */
class StringSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def jw(a: String, b: String): Double =
    SpecAccess.jaroWinkler(UTF8String.fromString(a),
      UTF8String.fromString(b))

  test("canonical Winkler examples") {
    assert(math.abs(jw("martha", "marhta") - 0.9611111111111111) < 1e-12)
    assert(math.abs(jw("dixon", "dicksonx") - 0.8133333333333332) < 1e-12)
    assert(math.abs(jw("dwayne", "duane") - 0.84) < 1e-12)
    assert(jw("hello", "hello") === 1.0)
    assert(jw("abc", "xyz") === 0.0)
  }

  test("symmetry, bounds, and the DuckDB empty convention") {
    val names = Seq("forest", "frost", "fohrest", "greens", "a", "ab")
    for (a <- names; b <- names) {
      val s = jw(a, b)
      assert(s >= 0.0 && s <= 1.0)
      assert(s === jw(b, a), s"asymmetric on ($a, $b)")
    }
    // any empty input → 0, INCLUDING both-empty (DuckDB convention)
    assert(jw("", "") === 0.0)
    assert(jw("a", "") === 0.0)
  }

  test("Winkler boost gates on jaro > 0.7 (DuckDB-verified)") {
    // common 2-char prefix but jaro = 0.5: DuckDB's
    // jaro_winkler_similarity('abcccccc','abdddddd') = 0.5 — an
    // ungated boost would wrongly report 0.6
    assert(jw("abcccccc", "abdddddd") === 0.5)
    // at jaro = 2/3 (≤ 0.7) the 1-char prefix must also not boost:
    // DuckDB jaro_winkler_similarity('ab','ac') = 0.6666...
    assert(math.abs(jw("ab", "ac") - 0.6666666666666666) < 1e-12)
    // just above the gate the boost applies: dixon/dicksonx jaro 0.7666
    assert(math.abs(jw("dixon", "dicksonx") - 0.8133333333333332) < 1e-12)
  }

  test("column expression runs with codegen and null-safety") {
    val out = Seq(("crate", Some("trace")), ("solo", None))
      .toDF("a", "b")
      .select(StringFunctions.jaroWinkler($"a", $"b").as("jw"))
      .as[Option[Double]].collect().toSeq
    assert(out.head.exists(v => math.abs(v - 0.7333333333333334) < 1e-12))
    assert(out(1).isEmpty)
  }
}
