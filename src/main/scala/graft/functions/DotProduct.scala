package graft.functions

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst dot-product over `array<double>` columns.
  *
  * Why a custom Expression (builder-brief preference order: built-ins →
  * native Expression → UDF): the built-in form
  * `aggregate(zip_with(a, b, _*_), 0d, _+_)` materializes an intermediate
  * array per row and evaluates a lambda per element; for the similarity
  * kernels (SURVEY §7 M5) the dot product is the innermost loop over
  * O(n²·dim) pairs. This expression evaluates as a tight primitive loop in
  * both interpreted ([[nullSafeEval]]) and whole-stage-codegen
  * ([[doGenCode]]) paths — no allocation, no lambda dispatch, stays inside
  * the codegen span.
  *
  * Accumulation order is ascending index in both paths, identical to the
  * `aggregate(zip_with(...))` form and to a sequential SQL SUM over
  * positions — so swapping it in cannot change oracle-compared results.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "dot_product"

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product requires two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** `dot_product(a, b)` as a typed Column; needs no session setup. */
  def col(a: Column, b: Column): Column =
    GraftColumn(DotProduct(GraftColumn.expression(a), GraftColumn.expression(b)))
}
