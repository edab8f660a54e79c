package graft.functions

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native k=8 MinHash over an `array<long>` of shingle codes: returns the
  * 8 minima of h_j(x) = (A_j·x + B_j) mod P in one pass.
  *
  * Why a custom Expression (same rationale as [[SimHash64]]): the
  * aggregation-free alternative is 8 `array_min(transform(codes, …))`
  * higher-order calls — HOFs evaluate interpreted (lambda dispatch per
  * element, 8 passes per row). The previous plan shape exploded the
  * shingle array (one row per 3-gram) and hash-aggregated 8 `min`s per
  * doc — map-side combined, but the fan-out materializes corpus × shingle
  * rows through the aggregate. This expression is one codegen'd loop per
  * row: no explode, no aggregate, no shuffle; the signature step joins
  * the scan's whole-stage-codegen span.
  *
  * Arithmetic is identical to the aggregate form and the DuckDB oracle:
  * codes < 2^32 (md5 first-8-hex), A_j < 2^21 ⇒ A_j·x < 2^53, exact in
  * i64. Empty input yields NULL (call sites filter docs with < 3 words).
  */
case class MinHash8(child: Expression) extends UnaryExpression {

  import MinHash8.{A, B, P}

  override def prettyName: String = "minhash8"

  override def nullable: Boolean = true

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash8 requires array<bigint>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val codes = input.asInstanceOf[ArrayData]
    val n = codes.numElements()
    if (n == 0) return null
    val mins = Array.fill(8)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val x = codes.getLong(i)
      var j = 0
      while (j < 8) {
        val h = (x * A(j) + B(j)) % P
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aArr = ctx.addReferenceObj("minhashA", A.toArray, "long[]")
    val bArr = ctx.addReferenceObj("minhashB", B.toArray, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val x = ctx.freshName("x")
      val h = ctx.freshName("h")
      val mins = ctx.freshName("mins")
      s"""
         |int $n = $c.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $mins = new long[8];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $x = $c.getLong($i);
         |    for (int $j = 0; $j < 8; $j++) {
         |      long $h = ($x * $aArr[$j] + $bArr[$j]) % ${P}L;
         |      if ($h < $mins[$j]) $mins[$j] = $h;
         |    }
         |  }
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |    .fromPrimitiveArray($mins);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHash8 {
  /** Universal-hash constants (single source of truth — queries.Dedup and
    * its oracle SQL derive from these): h_j(x) = (A_j·x + B_j) mod P over
    * md5-derived shingle codes. */
  val P: Long = 2147483647L
  val A: Seq[Long] = Seq(1299721L, 1299743L, 1299763L, 1299791L,
                         1299811L, 1299817L, 1299821L, 1299827L)
  val B: Seq[Long] = Seq(15485863L, 15485867L, 15485917L, 15485927L,
                         15485933L, 15485941L, 15485959L, 15485989L)

  /** `minhash8(shingle_codes)` as a typed Column; needs no session setup. */
  def col(codes: Column): Column =
    GraftColumn(MinHash8(GraftColumn.expression(codes)))
}
