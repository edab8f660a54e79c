package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** GlobalRank's two-phase forms vs the single-partition window oracle:
  * same values on every input, including empty frames, one-row frames,
  * and frames far smaller than the partition count — the shapes the
  * range-partitioner handles worst. Frames are seeded-random (fixed
  * seed, deterministic run-to-run) with distinct keys — the documented
  * contract.
  */
class GlobalRankSpec extends AnyFunSuite with SparkSuite {

  // 12 frames: empty, singleton, tiny (fewer rows than partitions), and
  // seeded-random sizes up to 60 distinct keys with arbitrary values
  private val frames: Seq[List[(Long, Long)]] = {
    val rng = new scala.util.Random(20260814L)
    Seq(0, 1, 3) ++ Seq.fill(9)(rng.nextInt(60) + 2)
  }.map { n =>
    val rng = new scala.util.Random(n * 7919L + 13)
    rng.shuffle((-100L to 100L).toList).take(n)
      .map(k => (k, rng.nextLong() % 1000))
  }

  test("withRowNumber equals the global row_number window") {
    for (rows <- frames) {
      import spark.implicits._
      val df = rows.toDF("k", "v")
      val got = GlobalRank.withRowNumber(df, "rn", Seq(col("k")),
          partitions = 5)
        .select("k", "rn").collect().map(r => (r.getLong(0), r.getInt(1)))
        .toMap
      val want = df.withColumn("rn",
          row_number().over(Window.orderBy("k")))
        .select("k", "rn").collect().map(r => (r.getLong(0), r.getInt(1)))
        .toMap
      graft.CacheScope.drain()
      assert(got === want)
    }
  }

  test("withPrefixAggs matches window prefix sum/max, incl/excl, multi-col") {
    for (rows <- frames) {
      import spark.implicits._
      val df = rows.toDF("k", "v")
      val got = GlobalRank.withPrefixAggs(df, Seq(col("k")),
          Seq(GlobalRank.PrefixAgg("v", "se"),
            GlobalRank.PrefixAgg("v", "si", inclusive = true),
            GlobalRank.PrefixAgg("v", "me", isMax = true),
            GlobalRank.PrefixAgg("v", "mi", isMax = true,
              inclusive = true)),
          partitions = 5)
        .select("k", "se", "si", "me", "mi").collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2),
            Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4)))
        .toMap
      val wE = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
      val wI = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
      val want = df
        .withColumn("se", coalesce(sum("v").over(wE), lit(0L)))
        .withColumn("si", sum("v").over(wI))
        .withColumn("me", max("v").over(wE))
        .withColumn("mi", max("v").over(wI))
        .select("k", "se", "si", "me", "mi").collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2),
            Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4)))
        .toMap
      graft.CacheScope.drain()
      assert(got === want)
    }
  }

  test("withKeyedRowNumber equals the partitioned row_number window") {
    for (rows <- frames) {
      import spark.implicits._
      // fold each frame's distinct keys onto 3 buckets so groups hold
      // multiple rows — the few-keys/large-groups regime the operator is for
      val df = rows.toDF("k", "v")
        .withColumn("g", pmod(col("k"), lit(3)))
      val got = GlobalRank.withKeyedRowNumber(df, "rn", Seq("g"),
          Seq(col("k")), partitions = 5, keepCount = Some("ns"))
        .select("k", "rn", "ns").collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
      val want = df
        .withColumn("rn",
          row_number().over(Window.partitionBy("g").orderBy("k")))
        .withColumn("ns",
          count(lit(1)).over(Window.partitionBy("g")))
        .select("k", "rn", "ns").collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
      graft.CacheScope.drain()
      assert(got === want)
    }
  }

  test("withPooledAndKeyedRowNumber equals both window oracles (r14 fusion)") {
    for (rows <- frames) {
      import spark.implicits._
      val df = rows.toDF("k", "v")
        .withColumn("g", pmod(col("k"), lit(3)))
      val got = GlobalRank.withPooledAndKeyedRowNumber(df, "r", "i",
          Seq("g"), Seq(col("k")), partitions = 5)
        .select("k", "r", "i").collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
      val want = df
        .withColumn("r", row_number().over(Window.orderBy("k")))
        .withColumn("i",
          row_number().over(Window.partitionBy("g").orderBy("k")))
        .select("k", "r", "i").collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
      graft.CacheScope.drain()
      assert(got === want)
    }
  }

  test("withPooledAndKeyedRowNumber guards: null keys fail loudly") {
    import spark.implicits._
    val withNull = Seq((Some(1L), 10L), (None, 20L), (Some(1L), 30L))
      .toDF("g", "k")
    val e = intercept[IllegalArgumentException] {
      GlobalRank.withPooledAndKeyedRowNumber(withNull, "r", "i",
        Seq("g"), Seq(col("k")))
    }
    assert(e.getMessage.contains("null key"))
    graft.CacheScope.drain()
  }

  test("withKeyedRowNumber guards fail loudly: null keys, key-cap") {
    import spark.implicits._
    // a null key would silently drop its rows through the offset
    // equi-join — the guard must throw with a named cause instead
    val withNull = Seq((Some(1L), 10L), (None, 20L), (Some(1L), 30L))
      .toDF("g", "k")
    val e1 = intercept[IllegalArgumentException] {
      GlobalRank.withKeyedRowNumber(withNull, "rn", Seq("g"), Seq(col("k")))
    }
    assert(e1.getMessage.contains("null key"))
    // high-cardinality key: the offset broadcast would be one row per
    // key — the cap rejects it before any broadcast is attempted
    val manyKeys = (1L to 50L).map(i => (i, i)).toDF("g", "k")
    val e2 = intercept[IllegalArgumentException] {
      GlobalRank.withKeyedRowNumber(manyKeys, "rn", Seq("g"), Seq(col("k")),
        maxBroadcastKeys = 10L)
    }
    assert(e2.getMessage.contains("broadcast bound"))
    graft.CacheScope.drain()
  }

  test("descending order key works (suffix sums, the q_kaplan_meier shape)") {
    import spark.implicits._
    val df = (1L to 37L).map(i => (i, i * 2)).toDF("k", "v")
    val got = GlobalRank.withPrefixAggs(df, Seq(col("k").desc),
        Seq(GlobalRank.PrefixAgg("v", "s", inclusive = true)),
        partitions = 5)
      .select("k", "s").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    val want = df.withColumn("s", sum("v").over(Window.orderBy(col("k").desc)
        .rowsBetween(Window.unboundedPreceding, 0)))
      .select("k", "s").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    graft.CacheScope.drain()
    assert(got === want)
  }
}
