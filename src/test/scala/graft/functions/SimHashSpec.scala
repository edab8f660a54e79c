package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Native simhash32 expression: bit-identity against the higher-order-
  * function reference form, plus codegen participation. */
class SimHashSpec extends AnyFunSuite with SparkSuite {

  private def tokens = SimHash64.tokenHashes(col("text"))

  /** The HOF form the expression replaced — kept here as the reference
    * model (floor-division bit rule, exact for powers of two). */
  private def hofSimhash = aggregate(sequence(lit(0), lit(31)), lit(0L),
    (acc, j) => {
      val p2 = pow(lit(2.0), j).cast(LongType)
      val sj = aggregate(col("ths"), lit(0L),
        (a, th) => a + (floor(th / p2).cast(LongType) % 2L) * 2L - 1L)
      acc + when(sj > 0, p2).otherwise(0L)
    })

  test("bit-identical to the HOF reference form on real documents") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), tokens.as("ths"))
    val both = docs.select(col("doc_id"),
      SimHash64.col(col("ths")).as("native"),
      hofSimhash.as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
    assert(both.count() > 0)
  }

  test("edge cases: empty array, null array, single token") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq.empty[Long])),
      (2L, None),
      (3L, Some(Seq(0xDEADBEEFL & 0xFFFFFFFFL)))
    ).toDF("id", "ths")
    val rows = df.select(col("id"),
        SimHash64.col(col("ths")).as("sig"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
                                           else r.getLong(1))).toMap
    assert(rows(1L) === 0L)   // no tokens → all counters 0 → no bits set
    assert(rows(2L) === null) // null in → null out
    // single token: signature == the token's low 32 bits
    assert(rows(3L) === (0xDEADBEEFL & 0xFFFFFFFFL))
  }

  test("expression participates in whole-stage codegen") {
    // a file-backed source (a local literal constant-folds to
    // LocalTableScan with no codegen at all)
    val df = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), tokens.as("ths"))
      .select(SimHash64.col(col("ths")).as("sig"))
    df.collect() // force execution through the codegen path
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(")) // WholeStageCodegen span covers the project
  }
}
