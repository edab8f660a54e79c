package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Jaro–Winkler expression: published reference values, the oracle's
  * empty-string convention, boost gating, and interpreted ≡ codegen. */
class JaroWinklerSpec extends AnyFunSuite with SparkSuite {

  private def jw(a: String, b: String): Double =
    JaroWinkler.similarity(UTF8String.fromString(a),
      UTF8String.fromString(b))

  test("classic reference pairs (Winkler 1990 examples)") {
    assert(math.abs(jw("MARTHA", "MARHTA") - 0.9611111111) < 1e-9)
    assert(math.abs(jw("DIXON", "DICKSONX") - 0.8133333333) < 1e-9)
    assert(math.abs(jw("JELLYFISH", "SMELLYFISH") - 0.8962962963) < 1e-9)
    // transposed but no shared prefix: boost must NOT apply
    assert(math.abs(jw("CRATE", "TRACE") - 0.7333333333) < 1e-9)
    // jaro exactly 0.7 with a 2-char prefix: DuckDB boosts — so must we
    assert(math.abs(jw("AB", "ABCDEFGHIJKLMNOPQRST") - 0.76) < 1e-9)
    // below the 0.7 gate: prefix present but no boost
    assert(math.abs(jw("ABCDEFGHij", "ABzzzzzzzzzzzzzzzz") - 0.4370370370)
      < 1e-9)
  }

  test("edges: empty strings are 0 (oracle convention), identity is 1") {
    assert(jw("", "") === 0.0)
    assert(jw("", "abc") === 0.0)
    assert(jw("abc", "") === 0.0)
    assert(jw("a", "a") === 1.0)
    assert(jw("a", "b") === 0.0)
    assert(jw("identical string", "identical string") === 1.0)
  }

  test("non-ASCII: byte-unit semantics (oracle parity beyond ASCII)") {
    // identity holds regardless of encoding width
    assert(jw("日本語", "日本語") === 1.0)
    assert(jw("café", "café") === 1.0)
    // byte-wise: 日本語 (9 bytes) vs 日本 (6 bytes) → m=6, t=0,
    // jaro=(6/9+1+1)/3=0.888…, 4-byte common prefix boost → 0.9333…
    // (a code-point kernel would see lengths 3/2 and a window of 0)
    assert(math.abs(jw("日本語", "日本") - 0.9333333333) < 1e-9)
    // multi-byte chars are multiple match units, same as the oracle's scan
    assert(jw("é", "e") === 0.0)
  }

  test("properties on random pairs: symmetry, [0,1] range, identity=1, " +
       "boost never decreases jaro") {
    val rng = new scala.util.Random(20260814L)
    def randStr(): String = {
      val alpha = "abcde#0123XYZ"
      (0 until rng.nextInt(16)).map(_ => alpha(rng.nextInt(alpha.length)))
        .mkString
    }
    for (_ <- 1 to 2000) {
      val a = randStr(); val b = randStr()
      val ab = jw(a, b); val ba = jw(b, a)
      assert(ab === ba, s"symmetry broke on ${(a, b)}")
      assert(ab >= 0.0 && ab <= 1.0, s"range broke on ${(a, b)}: $ab")
      if (a.nonEmpty) assert(jw(a, a) === 1.0, s"identity broke on $a")
    }
  }

  test("typed column: codegen path equals the static kernel") {
    import spark.implicits._
    val rows = Seq(("MARTHA", "MARHTA"), ("DIXON", "DICKSONX"),
      ("Customer#000000042", "Supplier#000000042"), ("", ""), ("x", "x"))
    val got = rows.toDF("a", "b")
      .select(JaroWinkler.col(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    val want = rows.map { case (a, b) => jw(a, b) }
    assert(got.toSeq === want)
    // null propagation
    val n = Seq((Option("x"), Option.empty[String])).toDF("a", "b")
      .select(JaroWinkler.col(col("a"), col("b")))
      .collect().head
    assert(n.isNullAt(0))
  }
}
