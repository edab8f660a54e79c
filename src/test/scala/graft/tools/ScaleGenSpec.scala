package graft.tools

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** ScaleGen contract: the N× fixture scales row counts linearly, keeps
  * key spaces disjoint-but-dense with referential integrity, preserves
  * within-copy document/embedding structure exactly, and keeps
  * cross-copy structure disjoint (the linear-scaling discipline the
  * class doc commits to — a workload growing superlinearly on this
  * fixture does so because of its own plan, not a fixture artifact). */
class ScaleGenSpec extends AnyFunSuite with SparkSuite {

  private val src = "/root/testdata/sf0.001"
  private lazy val dst = {
    val d = Files.createTempDirectory("graft-scalegen").toString
    ScaleGen.run(spark, src, d, copies = 3)
    d
  }

  test("row counts scale by the copy factor; dims stay fixed") {
    def n(dir: String, t: String): Long =
      spark.read.option("nanosAsLong", "true").parquet(s"$dir/$t.parquet")
        .count()
    for (t <- Seq("customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings"))
      assert(n(dst, t) === 3 * n(src, t), t)
    for (t <- Seq("region", "nation"))
      assert(n(dst, t) === n(src, t), t)
  }

  test("keys are globally unique and foreign keys resolve (per copy)") {
    val ords = spark.read.parquet(s"$dst/orders.parquet")
    assert(ords.select("o_orderkey").distinct().count() === ords.count())
    val cust = spark.read.parquet(s"$dst/customer.parquet")
    assert(cust.select("c_custkey").distinct().count() === cust.count())
    // referential integrity: every o_custkey exists in customer
    val dangling = ords.join(cust,
      ords("o_custkey") === cust("c_custkey"), "left_anti").count()
    assert(dangling === 0L)
    val li = spark.read.parquet(s"$dst/lineitem.parquet")
    val part = spark.read.parquet(s"$dst/part.parquet")
    assert(li.join(part, li("l_partkey") === part("p_partkey"),
      "left_anti").count() === 0L)
    // names regenerate from the NEW key → still unique at 3×
    assert(cust.select("c_name").distinct().count() === cust.count())
  }

  test("documents: copy 0 is the source verbatim; copies are " +
       "structure-preserving with disjoint vocabularies") {
    val sdocs = spark.read.parquet(s"$src/documents.parquet")
    val ddocs = spark.read.parquet(s"$dst/documents.parquet")
    val stride = ScaleGen.strideFor(
      sdocs.agg(max("doc_id")).head.getLong(0))
    // copy 0 verbatim
    val c0 = ddocs.filter(col("doc_id") < stride)
      .select("doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val s0 = sdocs.select("doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(c0.toSeq === s0.toSeq)
    // copies preserve token counts per doc (injective rename)
    val tok = ddocs.select((col("doc_id") % stride).as("base"),
        (col("doc_id") / stride).cast("int").as("cp"),
        size(split(col("text"), " ")).as("ntok"))
      .groupBy("base").agg(countDistinct("ntok").as("k")).agg(max("k"))
      .head.getLong(0)
    assert(tok === 1L, "token count must be identical across copies")
    // vocabularies are disjoint across copies: no shared token between
    // copy 0 and copy 1 (md5-renamed) — the no-spurious-near-dups rule
    val shared = ddocs
      .filter(col("doc_id") < 2 * stride)
      .select((col("doc_id") / stride).cast("int").as("cp"),
        explode(split(col("text"), " ")).as("w")).distinct()
      .groupBy("w").agg(countDistinct("cp").as("k"))
      .filter(col("k") > 1).count()
    assert(shared === 0L, "cross-copy vocabularies must be disjoint")
  }

  test("multi-file output disables the fixture rebalance (fanoutReady)") {
    // corpus-scaled tables must write >= defaultParallelism part files so
    // the sweep's scans parallelize from SPLITS; on such a layout
    // fanoutReady is a no-op (zero Exchange), while the driver's
    // single-file fixture still takes the one explicit rebalance
    val multi = spark.read.parquet(s"$dst/embeddings.parquet")
    assert(multi.inputFiles.length >=
      spark.sparkContext.defaultParallelism,
      s"scaled tables must be multi-file, got ${multi.inputFiles.length}")
    val noop = graft.Tables.fanoutReady(multi)
    assert(!noop.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      .contains("Exchange"),
      "fanoutReady must be a no-op on a multi-file layout")
    val single = spark.read.parquet(s"$src/embeddings.parquet")
    val staged = graft.Tables.fanoutReady(single)
    assert(staged.rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism,
      "single-file fixtures still stage across the session's cores")
  }

  test("embeddings: rotation preserves within-copy geometry exactly") {
    val demb = spark.read.parquet(s"$dst/embeddings.parquet")
    val semb = spark.read.parquet(s"$src/embeddings.parquet")
    val stride = ScaleGen.strideFor(
      semb.agg(max("vec_id")).head.getLong(0))
    // dot products between the same base pair are identical in copy 0
    // and copy 1 (rotation is an isometry)
    def dots(cp: Int): Map[(Long, Long), Double] = {
      val rows = demb.filter(col("vec_id") >= cp * stride &&
          col("vec_id") < (cp + 1) * stride)
        .select((col("vec_id") % stride).as("id"), col("embedding"))
        .orderBy("id").limit(8).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      (for {
        (ia, va) <- rows; (ib, vb) <- rows if ia < ib
      } yield (ia, ib) ->
        va.zip(vb).map { case (x, y) => x.toDouble * y }.sum).toMap
    }
    val d0 = dots(0)
    val d1 = dots(1)
    assert(d0.keySet === d1.keySet)
    d0.foreach { case (k, v) =>
      assert(math.abs(v - d1(k)) < 1e-5, s"pair $k moved: $v vs ${d1(k)}")
    }
  }
}
