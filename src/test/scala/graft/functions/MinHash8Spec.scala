package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Native minhash8 expression: value-identity against the explode +
  * 8-way min-aggregate reference form it replaced, plus null on empty. */
class MinHash8Spec extends AnyFunSuite with SparkSuite {

  /** Per-doc word-3-gram shingle codes (same projection queries.Dedup
    * feeds the expression). */
  private def codes = {
    val ws = split(col("text"), " ")
    transform(
      sequence(lit(0), size(ws) - 3),
      i => conv(substring(md5(concat_ws(" ",
        element_at(ws, i + 1),
        element_at(ws, i + 2),
        element_at(ws, i + 3))), 1, 8), 16, 10).cast(LongType))
  }

  test("identical to the explode + min-aggregate reference form") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), codes.as("codes"))
    val native = docs
      .select(col("doc_id"), MinHash8.col(col("codes")).as("mh"))
      .select((col("doc_id") +: MinHash8.A.indices.map(j =>
        element_at(col("mh"), j + 1).as(s"mh$j"))): _*)
    val aggs = MinHash8.A.indices.map { j =>
      min((col("code") * MinHash8.A(j) + MinHash8.B(j)) % MinHash8.P)
        .as(s"mh$j")
    }
    val reference = docs
      .select(col("doc_id"), explode(col("codes")).as("code"))
      .groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    assert(native.count() > 0)
    assert(native.exceptAll(reference).isEmpty &&
      reference.exceptAll(native).isEmpty,
      "native minhash8 diverges from the aggregate form")
  }

  test("empty shingle array yields NULL (not a bogus Long.MaxValue row)") {
    import spark.implicits._
    val r = Seq(Seq.empty[Long], Seq(7L)).toDF("codes")
      .select(MinHash8.col(col("codes")).as("mh"))
      .collect()
    assert(r(0).isNullAt(0))
    assert(!r(1).isNullAt(0))
    val mins = r(1).getSeq[Long](0)
    assert(mins === MinHash8.A.indices.map(j =>
      (7L * MinHash8.A(j) + MinHash8.B(j)) % MinHash8.P))
  }
}
