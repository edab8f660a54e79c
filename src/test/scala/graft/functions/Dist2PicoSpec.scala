package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Native dist2_pico expression: value-identity against the
  * aggregate(zip_with(round((x-y)²·1e12))) lambda form it replaced in
  * q_lof/q_coreset, including rounding-boundary inputs, null elements,
  * and mismatched lengths; plus a direct pin of [[Dist2Pico.round12]]
  * against Spark's exact double-round semantics (shortest-decimal
  * HALF_UP via BigDececimal.valueOf). */
class Dist2PicoSpec extends AnyFunSuite with SparkSuite {

  private def lambdaForm(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b,
      (x, y) => round((x - y) * (x - y) * 1e12).cast("long")),
      lit(0L), (acc, e) => acc + e)

  test("identical to the lambda fold on the embeddings fixture") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    // all pairs of the first 60 vectors: 3,540 folds of 64 dims
    val a = emb.filter(col("vec_id") < 60).toDF("ia", "va")
    val b = emb.filter(col("vec_id") < 60).toDF("ib", "vb")
    val both = a.crossJoin(b)
      .select(col("ia"), col("ib"),
        Dist2Pico.col(col("va"), col("vb")).as("native"),
        lambdaForm(col("va"), col("vb")).as("ref"))
    assert(both.filter(col("native") =!= col("ref")).count() === 0)
    assert(both.count() === 3600)
  }

  test("round12 pins Spark round semantics incl. half boundaries") {
    // reference: what Spark's RoundBase does for double at scale 0,
    // then the cast("long") of the integral double
    def sparkRound(v: Double): Long =
      scala.math.BigDecimal.decimal(v)
        .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP)
        .toDouble.toLong
    val rnd = new scala.util.Random(42)
    // fuzz across magnitudes, plus crafted near-half-integer squares:
    // d = sqrt((k + 0.5)/1e12) puts d²·1e12 within one ulp of k+0.5
    val fuzz = Seq.fill(20000)(rnd.nextDouble() * rnd.nextInt(1000))
    val halves = (0 until 2000).map(k => math.sqrt((k + 0.5) / 1e12))
    val ints = (0 until 2000).map(k => math.sqrt(k / 1e12.toDouble))
    val big = Seq.fill(100)(rnd.nextDouble() * 1e3 + 1e2) // v ≈ 1e16+
    for (d <- fuzz ++ halves ++ ints ++ big) {
      val v = d * d * 1e12
      assert(Dist2Pico.round12(d) === sparkRound(v),
        s"d=$d v=$v native=${Dist2Pico.round12(d)} spark=${sparkRound(v)}")
    }
  }

  test("null element / length mismatch / empty → lambda-form parity") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (array(1.0d, 2.0d), array(1.5d, 0.5d)),
        |  (array(1.0d, cast(null as double)), array(1.0d, 2.0d)),
        |  (array(1.0d, 2.0d, 3.0d), array(1.0d, 2.0d)),
        |  (array(cast(null as double)), array(1.0d)),
        |  (cast(array() as array<double>), cast(array() as array<double>))
        |  AS t(a, b)""".stripMargin)
      .select(
        Dist2Pico.col(col("a"), col("b")).as("native"),
        lambdaForm(col("a"), col("b")).as("ref"))
    val rows = df.collect()
    for (r <- rows) {
      val n = if (r.isNullAt(0)) null else r.getLong(0)
      val f = if (r.isNullAt(1)) null else r.getLong(1)
      assert(n === f, s"native=$n ref=$f")
    }
    // and the zero-length fold is 0, not null
    assert(rows.last.getLong(0) === 0L)
  }

  test("NaN / Inf elements → non-ANSI lambda-form parity (ADVICE r9)") {
    // Inf − Inf and NaN elements: Spark's round passes NaN/Inf through
    // and the NON-ANSI cast(long) yields 0 / Long.MaxValue; the native
    // fast paths must agree instead of feeding BigDecimal.valueOf(NaN)
    // (which throws NumberFormatException). Under ANSI (the Spark 4
    // default) the lambda form itself throws CAST_OVERFLOW on these
    // inputs — the native kernel is deliberately total, so the parity
    // reference is the non-ANSI lambda.
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val df = spark.sql(
        """SELECT * FROM VALUES
          |  (array(cast('Infinity' as double)),
          |   array(cast('Infinity' as double))),
          |  (array(cast('-Infinity' as double)),
          |   array(cast('Infinity' as double))),
          |  (array(cast('NaN' as double)), array(1.0d)),
          |  (array(1.0d, cast('Infinity' as double)), array(1.0d, 0.0d))
          |  AS t(a, b)""".stripMargin)
        .select(
          Dist2Pico.col(col("a"), col("b")).as("native"),
          lambdaForm(col("a"), col("b")).as("ref"))
      for (r <- df.collect()) {
        val n = if (r.isNullAt(0)) null else r.getLong(0)
        val f = if (r.isNullAt(1)) null else r.getLong(1)
        assert(n === f, s"native=$n ref=$f")
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", "true")
    // direct unit pins: Inf−Inf diff is NaN → 0; Inf diff saturates
    assert(Dist2Pico.round12(Double.NaN) === 0L)
    assert(Dist2Pico.round12(Double.PositiveInfinity) === Long.MaxValue)
  }
}
