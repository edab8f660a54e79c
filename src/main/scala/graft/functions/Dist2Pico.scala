package graft.functions

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst pico-quantized squared distance over `array<double>`:
  *
  *   dist2_pico(a, b) = Σᵢ round((aᵢ − bᵢ)·(aᵢ − bᵢ)·1e12)  as BIGINT
  *
  * — the exact-integer distance kernel the similarity family quantizes
  * with (q_lof, q_coreset: per-dimension terms become longs BEFORE the
  * sum, so no engine's addition order can move a rounding boundary).
  *
  * Why a custom Expression: the equivalent built-in form
  * `aggregate(zip_with(a, b, (x,y) => round((x-y)*(x-y)*1e12)·cast long), 0L, _+_)`
  * never enters whole-stage codegen (higher-order lambdas are always
  * interpreted) and pays a string-backed BigDecimal per ELEMENT inside
  * Spark's `round` — ~70 µs per 64-dim pair. Inside an O(n²) kNN base
  * that interpreted fold was the single hottest loop in the whole bench
  * (measured: the 30× scale fixture pinned 32 cores for >45 min in
  * `RoundBase.nullSafeEval`). This expression runs the identical math as
  * a primitive loop in both eval paths.
  *
  * Exactness contract (pinned by Dist2PicoSpec against the lambda form):
  * [[Dist2Pico.round12]] reproduces Spark's `round(v)` double semantics —
  * HALF_UP on the SHORTEST-DECIMAL representation of v (what
  * `scala.math.BigDecimal.decimal` parses), not on v's binary expansion —
  * via a Math-only fast path that provably agrees whenever v sits further
  * than one ULP from a half-integer, and the reference BigDecimal path on
  * the boundary. Mismatched lengths or a null element yield NULL, exactly
  * like the zip_with form.
  */
case class Dist2Pico(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "dist2_pico"

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dist2_pico requires two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  // a null element or a length mismatch nulls the whole sum (zip_with
  // pads the short side with null, and lambda-null poisons the fold)
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getDouble(i) - y.getDouble(i)
      s += Dist2Pico.round12(d)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |long $s = 0L;
         |if (!${ev.isNull}) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $s += graft.functions.Dist2Pico.round12($d);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Dist2Pico {

  /** round((d·d)·1e12) with Spark's exact `round(double)` semantics:
    * HALF_UP over the shortest-decimal rendering of the double (Spark
    * routes doubles through `BigDecimal.valueOf`, i.e. `Double.toString`,
    * NOT the binary expansion), then the long of that integral double.
    *
    * Fast path: the shortest-decimal value D of v differs from v by at
    * most ulp(v)/2, and HALF_UP is discontinuous only at half-integers —
    * so whenever v is more than one ulp away from n+0.5 the Math-only
    * decision equals the BigDecimal one. Doubles ≥ 2^52 are integral and
    * shortest-decimal round-trips, so the final long equals (long) v
    * there. Only the razor-edge cases pay BigDecimal. */
  def round12(d: Double): Long = {
    val v = d * d * 1e12
    if (v != v) { // NaN (e.g. Inf − Inf element diff): Spark's round
      0L          // passes NaN through and non-ANSI cast-to-long yields 0;
                  // BigDecimal.valueOf(NaN) would throw (ADVICE r9)
    } else if (v >= 4.503599627370496e15) { // 2^52: integral, round-trips
      v.toLong
    } else {
      val f = math.floor(v)
      val diff = v - f
      val eps = math.ulp(v)
      if (diff - 0.5 > eps) f.toLong + 1L
      else if (0.5 - diff > eps) f.toLong
      else // boundary: the reference path Spark's RoundBase takes
        java.math.BigDecimal.valueOf(v)
          .setScale(0, java.math.RoundingMode.HALF_UP)
          .doubleValue().toLong
    }
  }

  /** `dist2_pico(a, b)` as a typed Column; needs no session setup. */
  def col(a: Column, b: Column): Column =
    GraftColumn(Dist2Pico(GraftColumn.expression(a), GraftColumn.expression(b)))
}
