package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** cms_estimate probe vs the count_min_sketch aggregate and the
  * df.stat sketch path — all three must agree for the same
  * (eps, confidence, seed). */
class CountMinSpec extends AnyFunSuite with SparkSuite {

  test("plan-side probe matches driver-side estimateCount and exact counts") {
    import spark.implicits._
    // skewed key domain: "a"×600, "b"×300, "c"×100
    val df = spark.range(1000)
      .select(when(col("id") < 600, "a")
        .when(col("id") < 900, "b").otherwise("c").as("k"))
    val sk = df.agg(expr("count_min_sketch(k, 0.0001D, 0.999D, 42)").as("sk"))
    val probed = df.groupBy("k").agg(count(lit(1)).as("exact_n"))
      .crossJoin(broadcast(sk))
      .select(col("k"), col("exact_n"),
        CountMin.estimate(col("sk"), col("k")).as("cms_n"))
      .orderBy("k")
      .as[(String, Long, Long)].collect()
    // wide sketch + 3 keys: estimates are exact
    assert(probed.toSeq === Seq(("a", 600L, 600L), ("b", 300L, 300L),
      ("c", 100L, 100L)))
    // agreement with the df.stat (driver-side) sketch for the same params
    val statSketch = df.stat.countMinSketch("k",
      eps = 0.0001, confidence = 0.999, seed = 42)
    for ((k, _, est) <- probed)
      assert(statSketch.estimateCount(k) === est,
        s"stat-path and agg-path sketches disagree on $k")
  }
}
