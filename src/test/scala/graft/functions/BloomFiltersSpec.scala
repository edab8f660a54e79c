package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Bloom-filter build/probe Columns: the semi-join pruning sketch. */
class BloomFiltersSpec extends AnyFunSuite with SparkSuite {

  test("no false negatives; non-members mostly pruned") {
    val members = spark.range(1000).toDF("k")
    val bf = members.agg(BloomFilters.agg(col("k"), 1000L, 16384L).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    // every member must probe true (Bloom filters never false-negative)
    val hits = members
      .filter(BloomFilters.mightContain(lit(bf), col("k"))).count()
    assert(hits === 1000)
    // non-members [100000, 110000): the overwhelming majority prunes
    val fp = spark.range(100000, 110000).toDF("k")
      .filter(BloomFilters.mightContain(lit(bf), col("k"))).count()
    assert(fp < 1000, s"false-positive rate implausibly high: $fp / 10000")
  }
}
