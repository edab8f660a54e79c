package graft.functions

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native 32-bit SimHash over an `array<long>` of token hashes.
  *
  * Why a custom Expression: the built-in form is a nested
  * `aggregate(sequence(0,31), …, aggregate(ths, …))` — higher-order
  * functions are evaluated INTERPRETED in Spark (lambda dispatch per
  * element, 32 passes over the token array per row). This expression is a
  * single primitive pass: one loop over the tokens accumulating 32 sign
  * counters, then one loop assembling the bits — and it participates in
  * whole-stage codegen ([[doGenCode]]), so the dedup pipeline's signature
  * step stays inside the generated loop.
  *
  * Bit rule (identical to the HOF form and the SQL oracle): token hash th
  * (a non-negative 32-bit value in a long); bit j of the signature is set
  * iff Σ_tokens (((th >> j) & 1) * 2 - 1) > 0. `(th >> j) & 1` equals
  * `(th div 2^j) % 2` for non-negative th, so results are bit-identical.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def prettyName: String = "simhash32"

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash32 requires array<bigint>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val ths = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](32)
    val n = ths.numElements()
    var i = 0
    while (i < n) {
      val th = ths.getLong(i)
      var j = 0
      while (j < 32) {
        counts(j) += (((th >> j) & 1L) * 2L - 1L).toInt
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 32) {
      if (counts(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val counts = ctx.freshName("counts")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val th = ctx.freshName("th")
      val sig = ctx.freshName("sig")
      s"""
         |int[] $counts = new int[32];
         |int $n = $a.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  long $th = $a.getLong($i);
         |  for (int $j = 0; $j < 32; $j++) {
         |    $counts[$j] += (int) ((($th >> $j) & 1L) * 2L - 1L);
         |  }
         |}
         |long $sig = 0L;
         |for (int $j = 0; $j < 32; $j++) {
         |  if ($counts[$j] > 0) $sig |= (1L << $j);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  /** The canonical token→hash projection every simhash call site shares
    * (batch q_simhash, streaming near-dup, specs): whitespace tokens →
    * first 8 md5 hex chars as a long. ONE definition so batch/stream
    * signature parity can't silently diverge. Matches the SQL oracle's
    * `CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT)`. */
  def tokenHashes(text: Column): Column = {
    import org.apache.spark.sql.functions._
    transform(split(text, " "),
      w => conv(substring(md5(w), 1, 8), 16, 10)
        .cast(org.apache.spark.sql.types.LongType))
  }

  /** `simhash32(token_hashes)` as a typed Column; needs no session setup. */
  def col(tokenHashes: Column): Column =
    GraftColumn(SimHash64(GraftColumn.expression(tokenHashes)))
}
