package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Layout-aware sink specs: partition pruning at the scan, and
  * shuffle-free joins between co-bucketed tables. */
class SinkSpec extends AnyFunSuite with SparkSuite {

  private val warehouse = Files.createTempDirectory("graft-wh").toString
  override protected def conf = Map("spark.sql.warehouse.dir" -> warehouse)

  test("partitioned write → reads prune to matching partitions") {
    val out = Files.createTempDirectory("graft-part").toString
    val orders = graft.Tables.orders(spark, "/root/testdata/sf0.001")
    SinkOps.writePartitioned(orders, out, Seq("o_orderstatus"))
    val back = spark.read.parquet(out).filter(col("o_orderstatus") === "F")
    val plan = back.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    val pf = plan.linesIterator
      .find(_.trim.startsWith("PartitionFilters")).getOrElse("")
    assert(pf.contains("o_orderstatus"), s"no partition pruning: $pf")
    // values survive the layout round-trip
    assert(back.count() ===
      orders.filter(col("o_orderstatus") === "F").count())
  }

  test("co-bucketed tables join without a shuffle") {
    val s = spark
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val orders = graft.Tables.orders(s, "/root/testdata/sf0.001")
      val customer = graft.Tables.customer(s, "/root/testdata/sf0.001")
      SinkOps.writeBucketed(
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        "b_orders", "o_custkey", 8)
      SinkOps.writeBucketed(customer, "b_customer", "c_custkey", 8)
      val joined = s.table("b_orders")
        .join(s.table("b_customer"),
          col("o_custkey") === col("c_custkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n${plan.take(1500)}")
      // same answer as the unbucketed join
      assert(joined.count() ===
        orders.join(customer, col("o_custkey") === col("c_custkey")).count())
    } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("compaction: many small part files → few, content identical") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-compact").toString + "/t"
    // 32 tiny part files
    spark.range(10000).select(col("id"), (col("id") * 2).as("v"))
      .repartition(32).write.parquet(out)
    import scala.jdk.CollectionConverters._
    def partCount = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .iterator().asScala.count(_.getFileName.toString.startsWith("part-"))
    assert(partCount === 32)
    val before = spark.read.parquet(out).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    // target size larger than the whole table → exactly 1 file
    val n = SinkOps.compact(spark, out, targetFileBytes = 1L << 30)
    assert(n === 1 && partCount === 1)
    val after = spark.read.parquet(out).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    assert(after === before)
    // partitioned layouts refuse — blind compaction would flatten them
    val part = Files.createTempDirectory("graft-compact-p").toString + "/p"
    spark.range(100).select(col("id"), (col("id") % 3).as("k"))
      .write.partitionBy("k").parquet(part)
    val ex = intercept[IllegalArgumentException] {
      SinkOps.compact(spark, part)
    }
    assert(ex.getMessage.contains("partitioned"))
  }

  test("z-ordered write: per-file 2-D envelopes shrink, point reads touch fewer files") {
    import spark.implicits._
    // 64×64 grid in row-major order: a naive write gives every file the
    // FULL x range (x cycles within each file), so no file can be skipped
    // for an x predicate; the z-ordered layout localizes both dims
    val df = spark.range(64 * 64)
      .select((col("id") % 64).as("x"),
        (col("id") / 64).cast("long").as("y"))
    val plain = Files.createTempDirectory("graft-zplain").toString
    df.repartition(8).write.mode("overwrite").parquet(plain)
    val zed = Files.createTempDirectory("graft-zorder").toString
    SinkOps.writeZOrdered(df, zed, "x", "y", files = 8, bits = 6)

    def envelopes(dir: String) = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("x").as("x0"), max("x").as("x1"),
        min("y").as("y0"), max("y").as("y1"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    def area(e: Seq[(Long, Long, Long, Long)]): Long =
      e.map { case (x0, x1, y0, y1) => (x1 - x0 + 1) * (y1 - y0 + 1) }.sum
    val (pe, ze) = (envelopes(plain), envelopes(zed))
    assert(ze.length >= 4, s"expected several z files, got ${ze.length}")
    // total covered rectangle area: the skipping-quality metric q_zorder
    // reports — z-order must localize dramatically vs row-major
    assert(area(ze) * 4 <= area(pe),
      s"z envelopes not tighter: z=${area(ze)} plain=${area(pe)}")
    // a 2-D box predicate intersects strictly fewer file envelopes
    def touched(e: Seq[(Long, Long, Long, Long)]): Int =
      e.count { case (x0, x1, y0, y1) =>
        x0 <= 15 && x1 >= 8 && y0 <= 15 && y1 >= 8 }
    assert(touched(ze) < touched(pe),
      s"box touches z=${touched(ze)} vs plain=${touched(pe)} files")
    // and the data itself round-trips
    assert(spark.read.parquet(zed).count() === 64 * 64)
  }
}
