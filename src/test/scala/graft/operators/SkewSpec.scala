package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

class SkewSpec extends AnyFunSuite with SparkSuite {

  test("salted aggregation equals direct group-by on a skewed key") {
    import spark.implicits._
    // 90% of rows share one hot key
    val rows = (1 to 10000).map(i =>
      (if (i % 10 == 0) s"k${i % 7}" else "hot", i.toLong))
    val df = spark.createDataset(rows).toDF("k", "v")
    val salted = Skew.saltedAgg(df, Seq("k"), "v", salts = 8)
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val direct = df.groupBy("k")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(salted.toSeq === direct.toSeq)
    // phase-1 really fans the hot key out across salt buckets
    val phase1Groups = df
      .withColumn("_salt", pmod(hash(col("v")), lit(8)))
      .filter(col("k") === "hot")
      .select("_salt").distinct().count()
    assert(phase1Groups > 1)
  }

  test("salted join equals plain join on a skewed fact key") {
    import spark.implicits._
    // 95% of facts hit one dim key; dim is small but (say) un-broadcastable
    val facts = spark.createDataset((1 to 5000).map(i =>
      (if (i % 20 == 0) s"d${i % 5}" else "hot", i.toLong))).toDF("k", "v")
    val dims = spark.createDataset(
      ("hot" +: (0 until 5).map(i => s"d$i")).map(k => (k, s"name-$k")))
      .toDF("k", "name")
    val salted = Skew.saltedJoin(facts, dims, "k", salts = 8)
      .select("k", "v", "name")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sorted
    val plain = facts.join(dims, "k")
      .select("k", "v", "name")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sorted
    assert(salted.toSeq === plain.toSeq && salted.length === 5000)
    // the shuffle key (k, salt) really spreads the hot key
    val spread = facts
      .withColumn("_salt",
        pmod(hash(facts.columns.toIndexedSeq.map(col): _*), lit(8)))
      .filter(col("k") === "hot")
      .select("_salt").distinct().count()
    assert(spread > 1)
  }
}
